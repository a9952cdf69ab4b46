package perfbench

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Self-tests of the benchmark harness: seeded generators are reproducible,
  * seeds matter, names fit the result contract, and the in-memory twins
  * the batch workload checks against are right on hand-made graphs.
  *
  * Run from this directory: `sbt test`. */
class GenSpec extends AnyFunSuite {
  private def inputs(seed: Long): Seq[String] = {
    val t = Gen.tpch(seed, 200)
    val (docs, planted) = Gen.documents(seed, 100, 10)
    Seq(
      t.fingerprint,
      Gen.fingerprint(Gen.queries(seed, 500, t).iterator),
      Gen.fingerprint(Gen.queries(seed, 50, t, "warmup").iterator),
      Gen.fingerprint(Gen.commits(seed, 20, 5, 200).iterator),
      Gen.fingerprint(Gen.rmat(seed, 8, 8).iterator),
      Gen.fingerprint(docs.iterator),
      Gen.fingerprint(planted.iterator))
  }

  test("the same seed gives byte-identical inputs and streams") {
    assert(inputs(7) == inputs(7))
    assert(Gen.queries(7, 300, Gen.tpch(7, 200)).map(_.json).mkString("\n") ==
      Gen.queries(7, 300, Gen.tpch(7, 200)).map(_.json).mkString("\n"))
  }

  test("another seed gives different inputs and streams") {
    inputs(7).zip(inputs(8)).foreach { case (a, b) => assert(a != b) }
  }

  test("the query stream covers every class and parses as Zoe wire JSON") {
    val qs = Gen.queries(3, 1000, Gen.tpch(3, 200))
    assert(qs.map(_.cls).toSet == Gen.classes.map(_._1).toSet)
    // the serving warm-up (the first 12 slots) touches every class
    assert(Gen.schedule.take(12).toSet == Gen.classes.map(_._1).toSet)
    qs.foreach(q => graft.ql.ZoeJson.parse(q.json))
    // Zipf-skewed parameters: some queries repeat exactly
    assert(qs.map(_.json).distinct.size < qs.size)
  }

  test("commits delete only what the previous commit inserted") {
    val cs = Gen.commits(5, 10, 6, 100)
    cs.sliding(2).foreach { case Seq(prev, cur) =>
      assert(cur.deleteNodes.toSet.subsetOf(prev.nodes.map(_._1).toSet))
      assert(cur.deleteEdges.toSet == prev.edges.filter(e => cur.deleteNodes.contains(e._1)).toSet)
    }
  }

  private val name = "[A-Za-z0-9_.-]+".r

  test("metric and workload names in BENCHMARK.json fit the result contract") {
    val bench = new java.io.File(new java.io.File("..").getCanonicalFile, "BENCHMARK.json")
    val (endToEnd, perLayer) = Main.declared(bench)
    val names = endToEnd.map(_._1) ++ perLayer.map(_._1) ++ Main.workloads.keys
    names.foreach(n => assert(name.matches(n) && n.length <= 64, n))
    assert(names.distinct.size == names.size)
    val listed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bench).get("workloads")
      .elements().asScala.map(_.get("name").asText()).toSet
    assert(listed == Main.workloads.keySet)
  }

  test("in-memory twins on hand-made graphs") {
    // a 4-clique plus a pendant edge 3-4 and a separate edge 5-6
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (5L, 6L))
    val adj = Batch.adjacency(edges)
    assert(Batch.triangleTwin(8, adj).toSet ==
      Set("v:0,3", "v:1,3", "v:2,3", "v:3,3", "v:4,0", "v:5,0", "v:6,0", "v:7,0"))
    assert(Batch.componentTwin(adj).toSet == Set("0,0", "1,0", "2,0", "3,0", "4,0", "5,5", "6,5"))
    assert(Batch.trussTwin(3, adj).toSet ==
      Set("0,1,2", "0,2,2", "0,3,2", "1,2,2", "1,3,2", "2,3,2"))
  }

  test("quantiles interpolate between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0)) == 1.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }
}
