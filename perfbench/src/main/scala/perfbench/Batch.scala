package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.analytics.GraphAnalytics
import graft.model.{GraphStore, Hashing, PropValue}
import graft.pipeline.{ConnectedComponents, Curation, Dedup}

/** graph-batch: one client runs a fixed list of whole-graph jobs over a
  * seeded R-MAT graph (skewed degrees) and a seeded document set with
  * planted near-duplicates, as one pass in a fresh session. Every job's
  * answer is collected and checked against independent in-memory twins
  * (triangles, components, 3-truss), the library's GraphX twins (triangles,
  * components) and invariants (PageRank, near-dup). */
object Batch {
  val scale = 10
  val edgeFactor = 8
  val docs = 1000
  val planted = 100

  val jobs: Seq[String] = Seq("pagerank", "components", "triangles", "ktruss", "louvain", "neardup")
  /** Layer each job belongs to, for span and metric names. */
  def layer(job: String): String =
    if (job == "components" || job == "neardup") s"pipeline.$job" else s"analytics.$job"

  val toLong: Column => Column = id => substring_index(id, ":", -1).cast("long")

  /** The inputs one set-up repetition builds and caches. */
  final case class Inputs(g: GraphStore, pairs: DataFrame, sym: DataFrame, docs: DataFrame,
                          edges: Seq[(Long, Long)], planted: Seq[(Long, Long)]) {
    def cached: Seq[DataFrame] = Seq(g.vertices, g.edges, pairs, sym, docs)
  }

  /** Generate and build the inputs; returns them with the (generate,
    * build) seconds. */
  def build(ctx: Ctx): (Inputs, Double, Double) = {
    val spark = ctx.spark
    import spark.implicits._
    val ((edges, (ds, pl)), genS) = ctx.time(ctx.tracer.span("bench.generate", "setup") {
      (Gen.rmat(ctx.seed, scale, edgeFactor), Gen.documents(ctx.seed, docs, planted))
    })
    val (in, buildS) = ctx.time(ctx.tracer.span("model.graph_build", "setup") {
      val ph = PropValue("Link").hash
      val v = (0L until (1L << scale)).map(n => (s"v:$n", ph)).toDF("id", "prop_hash")
      val e = edges.map { case (s, d) => (Hashing.edgeId(ph, s"v:$s", s"v:$d"), s"v:$s", s"v:$d", ph) }
        .toDF("edge_id", "src", "dst", "prop_hash")
      val pairs = edges.toDF("a", "b")
      val canon = pairs.select(least($"a", $"b").as("a"), greatest($"a", $"b").as("b")).distinct()
      val sym = canon.unionByName(canon.select($"b".as("a"), $"a".as("b")))
      val none = GraphStore.empty(spark)
      val in = Inputs(GraphStore(v, e, none.props, none.propRefs), pairs, sym, ds.toDF(), edges, pl)
      in.cached.foreach(_.cache().count())
      in
    })
    (in, genS, buildS)
  }

  /** A job's collected answer, one string per row. */
  def runJob(in: Inputs, job: String): Seq[String] = {
    def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.mkString(","))
    job match {
      case "pagerank" => rows(GraphAnalytics.pageRankDF(in.g, toLong, numIter = 5))
      case "components" => rows(ConnectedComponents.labels(in.pairs))
      case "triangles" => rows(GraphAnalytics.triangleCountDF(in.g, toLong))
      case "ktruss" => rows(GraphAnalytics.kTruss(in.pairs, k = 3))
      case "louvain" => rows(GraphAnalytics.louvain(in.sym, maxLevels = 1, maxRounds = 3))
      case "neardup" => rows(Curation.dedupNearKeepFirst(in.docs, "doc_id", "text").select("doc_id"))
    }
  }

  def same(a: Seq[String], b: Seq[String]): Boolean = a.sorted == b.sorted

  /** Undirected simple adjacency of an edge list. */
  def adjacency(edges: Seq[(Long, Long)]): Map[Long, Set[Long]] =
    edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }

  /** Per-vertex triangle counts, every vertex listed. */
  def triangleTwin(nV: Long, adj: Map[Long, Set[Long]]): Seq[String] = {
    val n = scala.collection.mutable.HashMap[Long, Long]().withDefaultValue(0L)
    for ((u, nu) <- adj; v <- nu if v > u; w <- nu & adj(v) if w > v) Seq(u, v, w).foreach(x => n(x) += 1)
    (0L until nV).map(v => s"v:$v,${n(v)}")
  }

  /** Minimum vertex id of every non-isolated vertex's component. */
  def componentTwin(adj: Map[Long, Set[Long]]): Seq[String] = {
    val label = scala.collection.mutable.HashMap[Long, Long]()
    adj.keys.toSeq.sorted.foreach { s =>
      if (!label.contains(s)) {
        val stack = scala.collection.mutable.ArrayDeque(s)
        label(s) = s
        while (stack.nonEmpty)
          adj(stack.removeLast()).foreach(w => if (!label.contains(w)) { label(w) = s; stack.append(w) })
      }
    }
    label.toSeq.map { case (v, c) => s"$v,$c" }
  }

  /** k-truss by peeling: drop edges in fewer than k-2 triangles until none
    * drops; each surviving edge with its support. */
  def trussTwin(k: Int, adj0: Map[Long, Set[Long]]): Seq[String] = {
    var adj = adj0
    var done = false
    var sup: Seq[((Long, Long), Int)] = Nil
    while (!done) {
      sup = for ((u, nu) <- adj.toSeq; v <- nu.toSeq if v > u) yield (u, v) -> (nu & adj(v)).size
      val keep = sup.filter(_._2 >= k - 2)
      done = keep.size == sup.size
      adj = adjacency(keep.map(_._1))
    }
    sup.map { case ((a, b), s) => s"$a,$b,$s" }
  }

  /** Once per run, untimed: the answers against independent twins. */
  def twins(in: Inputs, ref: Map[String, Seq[String]], out: Outcome): Unit = {
    val nV = 1L << scale
    val adj = adjacency(in.edges)
    val ranks = ref("pagerank").map(_.split(",")(1).toDouble)
    out.check(ranks.size == nV && math.abs(ranks.sum - nV) <= 1e-6 * nV,
      s"pagerank: ${ranks.size} ranks summing to ${ranks.sum}, expected $nV summing to $nV")
    out.check(same(ref("triangles"), triangleTwin(nV, adj)), "triangles differ from the twin")
    out.check(same(ref("components"), componentTwin(adj)), "components differ from the twin")
    // the library's own GraphX implementations must agree as well
    val gxTriangles = GraphAnalytics.triangleCount(in.g, toLong).collect().toSeq.map(r => s"${r.get(0)},${r.get(1)}")
    out.check(same(ref("triangles"), gxTriangles), "triangles differ from GraphX triangleCount")
    val gxComponents = GraphAnalytics.connectedComponents(in.g, toLong).collect().toSeq
      .collect { case r if adj.contains(r.getString(0).drop(2).toLong) => s"${r.getString(0).drop(2)},${r.get(1)}" }
    out.check(same(ref("components"), gxComponents), "components differ from GraphX connectedComponents")
    out.check(same(ref("ktruss"), trussTwin(3, adj)), "3-truss differs from the twin")
    val kept = ref("neardup").map(_.toLong).toSet
    val inputIds = (0L until (docs + planted).toLong).toSet
    out.check(kept.subsetOf(inputIds) && kept.size < inputIds.size,
      s"neardup: ${(kept -- inputIds).size} survivors not in the input")
    val found = in.planted.count { case (_, copy) => !kept(copy) }
    out.layers("pipeline.neardup.recall") = Metric(found.toDouble / in.planted.size, "fraction", in.planted.size)
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val tr = ctx.tracer
    var in: Inputs = null
    val reps = (0 until ctx.setupReps).map { _ =>
      if (in != null) in.cached.foreach(_.unpersist())
      val (i, genS, buildS) = build(ctx)
      in = i
      (genS, buildS)
    }
    out.layers("bench.generate_s") = Metric(Stats.median(reps.map(_._1)), "s", reps.size)
    out.layers("model.graph_build_s") = Metric(Stats.median(reps.map(_._2)), "s", reps.size)
    ctx.log("set-up done")

    // one timed pass, the first of the process: batch jobs run cold in a
    // fresh session, paying JIT and codegen
    ctx.setup(out, reps.map(r => r._1 + r._2), 0.0)
    val pass = jobs.map { job =>
      val t0 = System.nanoTime()
      val answer =
        try Some(tr.span(layer(job), job)(runJob(in, job)))
        catch { case e: Exception =>
          out.problems += s"$job: ${e.getClass.getSimpleName}: ${e.getMessage}"; None }
      (job, (System.nanoTime() - t0) / 1e9, answer)
    }
    ctx.log("pass done: " + pass.map(p => f"${p._1} ${p._2}%.2f").mkString(", "))
    val answers = pass.collect { case (job, _, Some(a)) => job -> a }.toMap
    jobs.foreach(j => out.check(answers.contains(j), s"$j failed"))
    if (answers.size == jobs.size) twins(in, answers, out)

    val passS = pass.map(_._2).sum
    out.endToEnd("op_p50_ms") = Metric(passS * 1000, "ms", 1)
    out.endToEnd("ops_per_s") = Metric(jobs.size / passS, "1/s", jobs.size)
    ctx.memory(out)
    pass.foreach { case (job, s, _) =>
      out.details(s"batch.${job}_s") = Metric(s, "s", 1)
      out.layers(s"${layer(job)}.s") = Metric(s, "s", 1)
    }
    if (tr.enabled) {
      tr.drain()
      jobs.foreach { job =>
        val (calls, ms, _) = tr.layer(layer(job))
        ctx.perCall(out, layer(job), Seq(layer(job)), calls, ms / 1000)
      }
      // MinHash proposal quality: verified pairs per proposed candidate
      val cand = Dedup.minhashCandidatePairs(in.docs, "doc_id", "text").count()
      val verified = Dedup.ngramJaccardViaMinhash(in.docs, "doc_id", "text").count()
      out.layers("pipeline.neardup.verify_yield") =
        Metric(if (cand > 0) verified.toDouble / cand else 0.0, "fraction", cand.toInt)
    }
    out
  }
}
