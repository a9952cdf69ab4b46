package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.TpchGraph
import graft.exec.ZoeCompiler
import graft.model.GraphStore
import graft.ql.{BasicQuery, ZoeJson}

/** The TPC-H-shaped graph every Zoe workload serves from. */
object TpchSetup {
  /** Generate the seeded tables and write them as parquet under `dir`. */
  def generate(ctx: Ctx, dir: String, customers: Int): Gen.Tpch = {
    val spark = ctx.spark
    import spark.implicits._
    val t = Gen.tpch(ctx.seed, customers)
    ctx.writeTable(dir, "region", t.regions.toDF())
    ctx.writeTable(dir, "nation", t.nations.toDF())
    ctx.writeTable(dir, "customer", t.customers.toDF())
    ctx.writeTable(dir, "supplier", t.suppliers.toDF())
    ctx.writeTable(dir, "part", t.parts.toDF())
    ctx.writeTable(dir, "orders", t.orders.toDF())
    t
  }

  /** Load the base tables, then build and cache the graph over them.
    * Returns the graph and the (table load, graph build) seconds. */
  def build(ctx: Ctx, dir: String): (GraphStore, Double, Double) = {
    val (_, loadS) = ctx.time(ctx.tracer.span("model.table_load", "setup") {
      TpchGraph.graphBaseTables.foreach(TpchGraph.table(ctx.spark, dir, _))
    })
    val (g, buildS) = ctx.time(ctx.tracer.span("model.graph_build", "setup") {
      TpchGraph.build(ctx.spark, dir)
    })
    (g, loadS, buildS)
  }

  /** Drop the cached blocks of a set-up repetition that will not be used. */
  def release(ctx: Ctx, dir: String, g: GraphStore): Unit = {
    Seq(g.vertices, g.edges, g.props, g.propRefs).foreach(_.unpersist())
    TpchGraph.graphBaseTables.foreach(TpchGraph.table(ctx.spark, dir, _).unpersist())
  }

  /** Repeat generate + build `ctx.setupReps` times; keep the last graph. */
  def repeated(ctx: Ctx, out: Outcome, name: String, customers: Int)
      : (Gen.Tpch, String, GraphStore, Seq[Double]) = {
    var last: (Gen.Tpch, String, GraphStore) = null
    val gens, loads, builds = scala.collection.mutable.ArrayBuffer[Double]()
    for (rep <- 0 until ctx.setupReps) {
      if (last != null) release(ctx, last._2, last._3)
      val dir = ctx.dir(s"$name-rep$rep")
      val (t, genS) = ctx.time(ctx.tracer.span("bench.generate", "setup")(generate(ctx, dir, customers)))
      val (g, loadS, buildS) = build(ctx, dir)
      gens += genS; loads += loadS; builds += buildS
      last = (t, dir, g)
    }
    out.layers("bench.generate_s") = Metric(Stats.median(gens.toSeq), "s", gens.size)
    out.layers("model.table_load_s") = Metric(Stats.median(loads.toSeq), "s", loads.size)
    out.layers("model.graph_build_s") = Metric(Stats.median(builds.toSeq), "s", builds.size)
    val reps = gens.indices.map(i => gens(i) + loads(i) + builds(i))
    (last._1, last._2, last._3, reps)
  }

  /** Order-independent digest of a result: SHA-256 of the sorted rows. */
  def digest(rows: Iterable[String]): String =
    Gen.fingerprint(rows.toSeq.sorted.iterator.map(Tuple1(_)))
}

/** zoe-serve: a closed loop of two clients issuing the seeded Zoe query mix
  * (wire JSON → `ZoeJson.parse` → `ZoeCompiler.run` → result action) against
  * the cached TPC-H graph. Every answer is checked against the digest a
  * relational twin computed over the base parquet tables during set-up. */
object Serve {
  val customers = 1000
  val clients = 2
  val streamLength = 4000

  /** Expected answer digest per distinct query, from Spark SQL over the
    * base parquet tables (never through the graph). */
  def expected(spark: SparkSession, dir: String, qs: Seq[Gen.Query]): Map[String, String] = {
    import spark.implicits._
    Seq("region", "nation", "customer", "supplier", "part", "orders").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(s"pb_$t")
    }
    val distinct = qs.groupBy(_.json).map(_._2.head).toSeq
    def params(cls: String): DataFrame =
      distinct.filter(_.cls == cls).map(q => (q.json, q.params.padTo(3, ""))).map {
        case (j, p) => (j, p(0), p(1), p(2))
      }.toDF("qk", "p0", "p1", "p2")
    def run(cls: String, sql: String): Map[String, Seq[String]] = {
      params(cls).createOrReplaceTempView("pb_params")
      spark.sql(sql).as[(String, Seq[String])].collect().toMap
    }
    val members =
      """SELECT concat('customer:', c_custkey) AS id, c_nationkey AS nk FROM pb_customer
        |UNION ALL SELECT concat('supplier:', s_suppkey), s_nationkey FROM pb_supplier""".stripMargin
    val point = run("point",
      """SELECT p.qk, collect_list(concat('order:', o.o_orderkey)) FROM pb_params p
        |LEFT JOIN pb_orders o ON o.o_custkey = CAST(p.p0 AS BIGINT) GROUP BY p.qk""".stripMargin)
    val hop = run("hop",
      s"""SELECT p.qk, collect_list(m.id) FROM pb_params p
         |LEFT JOIN ($members) m ON m.nk = CAST(p.p0 AS INT) GROUP BY p.qk""".stripMargin)
    val chain = run("chain",
      """SELECT p.qk, collect_list(concat('customer:', c.c_custkey)) FROM pb_params p
        |LEFT JOIN (pb_nation n JOIN pb_customer c ON c.c_nationkey = n.n_nationkey)
        |  ON n.n_regionkey = CAST(p.p0 AS INT) GROUP BY p.qk""".stripMargin)
    val segSets = run("algebra",
      """SELECT p.qk, collect_list(concat('customer:', c.c_custkey)) FROM pb_params p
        |LEFT JOIN pb_customer c ON c.c_mktsegment = p.p1 GROUP BY p.qk""".stripMargin)
    val natSets = run("algebra",
      s"""SELECT p.qk, collect_list(m.id) FROM pb_params p
         |LEFT JOIN ($members) m ON m.nk = CAST(p.p2 AS INT) GROUP BY p.qk""".stripMargin)
    val algebra = segSets.map { case (qk, a) =>
      val (sa, sb) = (a.toSet, natSets(qk).toSet)
      val op = distinct.find(_.json == qk).get.params.head
      qk -> (op match {
        case "Union" => sa ++ sb
        case "Intersect" => sa & sb
        case "Substract" => sa -- sb
        case "DisjunctiveUnion" => (sa -- sb) ++ (sb -- sa)
      }).toSeq
    }
    // one path per region member: region <-InRegion- nation <-InNation- member,
    // rendered as end|props in extractPathProperties' order
    val paths = run("paths",
      """SELECT p.qk, collect_list(concat(m.id, '|', concat_ws('|',
        |    concat('{"Region":"', r.r_name, '"}'), '"InRegion"',
        |    concat('{"Nation":"', n.n_name, '"}'), '"InNation"', m.prop))) FROM pb_params p
        |LEFT JOIN (pb_region r JOIN pb_nation n ON n.n_regionkey = r.r_regionkey
        |  JOIN (SELECT concat('customer:', c_custkey) AS id, c_nationkey AS nk,
        |          concat('{"Customer":"', c_name, '"}') AS prop FROM pb_customer
        |        UNION ALL SELECT concat('supplier:', s_suppkey), s_nationkey,
        |          concat('{"Supplier":"', s_name, '"}') FROM pb_supplier) m
        |    ON m.nk = n.n_nationkey)
        |  ON r.r_regionkey = CAST(p.p0 AS INT) GROUP BY p.qk""".stripMargin)
    val range = run("range",
      """SELECT p.qk, collect_list(concat('part:', t.p_partkey)) FROM pb_params p
        |LEFT JOIN pb_part t ON t.p_size BETWEEN CAST(p.p0 AS INT) AND CAST(p.p1 AS INT)
        |GROUP BY p.qk""".stripMargin)
    (point ++ hop ++ chain ++ algebra ++ paths ++ range).map { case (k, v) => k -> TpchSetup.digest(v) }
  }

  final case class Sample(cls: String, latencyMs: Double, parseMs: Double, runMs: Double,
                          actionMs: Double, endNs: Long, ok: Boolean)

  /** Parse, compile, run and materialize one wire query; returns the sample
    * and the answer digest. */
  def serve(ctx: Ctx, g: GraphStore, q: Gen.Query, request: String, t0Ns: Long): (Sample, String) = {
    val tr = ctx.tracer
    val a = System.nanoTime()
    val parsed = tr.span("ql.parse", request)(ZoeJson.parse(q.json))
    val b = System.nanoTime()
    val compiler = new ZoeCompiler(g)
    val result = tr.span("exec.run", request)(compiler.run(parsed))
    val c = System.nanoTime()
    val rows =
      if (q.cls == "paths") tr.span("exec.paths", request) {
        compiler.extractPathProperties(result).collect().map { r =>
          r.getString(0) + "|" + r.getSeq[String](1).mkString("|")
        }.toSeq
      }
      else tr.span("exec.materialize", request)(result.vertices.collect().map(_.getString(0)).toSeq)
    val d = System.nanoTime()
    (Sample(q.cls, (d - a) / 1e6, (b - a) / 1e6, (c - b) / 1e6, (d - c) / 1e6, d - t0Ns, ok = true),
      TpchSetup.digest(rows))
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val (tpch, dir, g, reps) = TpchSetup.repeated(ctx, out, "serve", customers)
    val stream = Gen.queries(ctx.seed, streamLength, tpch)
    // warm-up for JIT and codegen caches: the first 12 slots of the class
    // schedule cover every class
    val warm = Gen.queries(ctx.seed, 12, tpch, "warmup")
    ctx.log("set-up done")
    val want = expected(ctx.spark, dir, stream ++ warm)
    ctx.log("expected answers computed")

    def answer(q: Gen.Query, request: String, t0: Long): Sample =
      try {
        val (s, got) = serve(ctx, g, q, request, t0)
        s.copy(ok = out.check(want.get(q.json).contains(got), s"${q.cls} ${q.json}: wrong answer"))
      } catch {
        case e: Exception =>
          out.check(ok = false, s"${q.cls} ${q.json}: ${e.getClass.getSimpleName}: ${e.getMessage}")
          Sample(q.cls, Double.NaN, 0, 0, 0, System.nanoTime() - t0, ok = false)
      }

    val (_, warmS) = ctx.time(warm.zipWithIndex.foreach { case (q, i) => answer(q, s"warmup-$i", 0L) })
    ctx.setup(out, reps, warmS)
    ctx.log("warm-up done")

    // closed loop: each client sends its next query when the last returns
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (System.nanoTime() < deadline && i < stream.size) {
          samples.add(answer(stream(i), s"q$i", t0))
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    ctx.log("timed phase done")
    import scala.jdk.CollectionConverters._
    val all = samples.asScala.toSeq
    val good = all.filter(_.ok)
    val lat = good.map(_.latencyMs)
    val wallS = all.map(_.endNs).maxOption.getOrElse(1L) / 1e9

    out.endToEnd("op_p50_ms") = Metric(Stats.median(lat), "ms", lat.size)
    out.endToEnd("ops_per_s") = Metric(good.size / wallS, "1/s", good.size)
    ctx.memory(out)
    out.details("zoe.p90_ms") = Metric(Stats.quantile(lat, 0.9), "ms", lat.size)
    Gen.classes.foreach { case (cls, _) =>
      val xs = good.filter(_.cls == cls)
      out.details(s"zoe.${cls}_p50_ms") = Metric(Stats.median(xs.map(_.latencyMs)), "ms", xs.size)
    }

    out.layers("zoe.p90_ms") = out.details("zoe.p90_ms")
    out.layers("zoe.point_p50_ms") = out.details("zoe.point_p50_ms")
    out.layers("ql.parse_ms") = Metric(Stats.median(good.map(_.parseMs)), "ms", good.size)
    Gen.classes.foreach { case (cls, _) =>
      val xs = good.filter(_.cls == cls).map(_.runMs)
      out.layers(s"exec.run_ms.$cls") = Metric(Stats.median(xs), "ms", xs.size)
    }
    val mat = good.filter(_.cls != "paths").map(_.actionMs)
    out.layers("exec.materialize_ms") = Metric(Stats.median(mat), "ms", mat.size)
    val pth = good.filter(_.cls == "paths").map(_.actionMs)
    out.layers("exec.paths_ms") = Metric(Stats.median(pth), "ms", pth.size)

    if (ctx.tracer.enabled) {
      ctx.tracer.drain()
      // timed queries only: their requests are q<index>, the warm-up's warmup-<index>
      ctx.perCall(out, "exec", Seq("exec.run", "exec.materialize", "exec.paths"), all.size, wallS,
        _.startsWith("q"))
      // rows the traversal carries per distinct result id, on a sample of
      // each class (untimed: an extra traversal per sampled query)
      val ratios = Gen.classes.flatMap { case (cls, _) => stream.filter(_.cls == cls).take(3) }.map { q =>
        val compiler = new ZoeCompiler(g)
        ZoeJson.parse(q.json) match {
          case BasicQuery.V(v) =>
            val ids = compiler.run(v).vertices.count().toDouble
            if (ids > 0) compiler.traceV(v).count() / ids else 1.0
          case _ => 1.0
        }
      }
      out.layers("exec.rows_per_result") = Metric(Stats.median(ratios), "ratio", ratios.size)
    }
    out
  }
}
