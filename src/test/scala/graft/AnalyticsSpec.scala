package graft

import org.apache.spark.sql.functions._
import graft.analytics.GraphAnalytics
import graft.model.PropValue
import graft.store.GraphBatch

class AnalyticsSpec extends SparkSuite {

  /** Two triangles joined by a bridge: a-b-c-a, d-e-f-d, c-d bridge. */
  lazy val g = {
    val b = new GraphBatch
    Seq("a", "b", "c", "d", "e", "f", "lone").foreach(n =>
      b.createNode(s"v:$n", PropValue.typed("N", Some(n))))
    Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d"))
      .foreach { case (s, d) => b.createEdge(s"v:$s", s"v:$d", PropValue("E")) }
    b.toStore(spark).persistAll()
  }

  private val toLong: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    id => when(id === "v:a", 1L).when(id === "v:b", 2L).when(id === "v:c", 3L)
      .when(id === "v:d", 4L).when(id === "v:e", 5L).when(id === "v:f", 6L)
      .otherwise(7L)

  test("order / size / degrees / neighbors / hasEdge") {
    assert(GraphAnalytics.order(g) == 7)
    assert(GraphAnalytics.size(g) == 7)
    val deg = GraphAnalytics.degrees(g).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(deg("v:c") == (1L, 2L)) // in: b->c; out: c->a, c->d
    assert(deg("v:lone") == (0L, 0L))
    val nb = GraphAnalytics.neighbors(g, "v:c").collect().map(_.getString(0)).toSet
    assert(nb == Set("v:a", "v:b", "v:d"))
    assert(GraphAnalytics.hasEdge(g, "v:a", "v:b"))
    assert(!GraphAnalytics.hasEdge(g, "v:b", "v:a"))
  }

  test("connected components: bridged triangles are one component, loner apart") {
    val cc = GraphAnalytics.connectedComponents(g, toLong).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Seq("v:a", "v:b", "v:c", "v:d", "v:e", "v:f").map(cc).distinct == Seq(1L))
    assert(cc("v:lone") == 7L)
  }

  test("pagerank: bridge target accumulates more rank than the loner") {
    val pr = GraphAnalytics.pageRank(g, toLong, numIter = 10).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pr("v:d") > pr("v:lone"))
    assert(pr.values.forall(_ > 0))
  }

  test("pagerank: DataFrame power iteration matches GraphX to 1e-6") {
    // cyclic graph (the triangles), a dangling sink path, and an isolated
    // vertex — exercises non-closed-form convergence, dangling leakage,
    // and the final sum-to-|V| normalization
    val gx = GraphAnalytics.pageRank(g, toLong, numIter = 10).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val df = GraphAnalytics.pageRankDF(g, toLong, numIter = 10).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(df.keySet == gx.keySet)
    df.foreach { case (id, r) =>
      assert(math.abs(r - gx(id)) < 1e-6, s"$id: df $r vs graphx ${gx(id)}")
    }
    assert(math.abs(df.values.sum - 7.0) < 1e-9) // normalized to |V|
  }

  test("label propagation: sync rounds, min-label ties, isolated keeps label") {
    // path a(1)-b(2)-c(3) plus the rest of the fixture; hand-walk rounds on
    // a standalone 3-path + loner graph instead
    val b2 = new GraphBatch
    Seq("p", "q", "r", "solo").foreach(n =>
      b2.createNode(s"v:$n", PropValue.typed("N", Some(n))))
    Seq(("p", "q"), ("q", "r")).foreach { case (s, d) =>
      b2.createEdge(s"v:$s", s"v:$d", PropValue("E")) }
    val pg = b2.toStore(spark).persistAll()
    val tl: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      id => when(id === "v:p", 1L).when(id === "v:q", 2L)
        .when(id === "v:r", 3L).otherwise(9L)
    // round 1: p<-{2}=2, q<-{1,3} tie ->1, r<-{2}=2 ; round 2: p<-{1}=1,
    // q<-{2,2}=2, r<-{1}=1 ; solo keeps 9 throughout
    val out = GraphAnalytics.labelPropagationDF(pg, tl, rounds = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("v:p" -> 1L, "v:q" -> 2L, "v:r" -> 1L, "v:solo" -> 9L))
  }

  test("label propagation: one scheduler job per round (checkpoint IS the round)") {
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          jobStart: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    // under AQE every shuffle stage is its own job, and broadcast builds
    // submit theirs from a side thread — disable both so one action = one
    // job and the counter measures actions per round (the cc-probe pin's
    // protocol, CurationSpec)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = GraphAnalytics.labelPropagationDF(g, toLong, rounds = 2).collect()
      assert(out.length == 7)
      org.apache.spark.GraftSchedulerProbe.drainListenerBus(spark.sparkContext)
      // budget: 1 init-checkpoint job + 1 checkpoint job per round (2) +
      // the final collect = 4, +2 slack for the verts/edges persist
      // materializations the first action may split out
      val jobs = counter.get()
      assert(jobs <= 6, s"lpa spent $jobs jobs for 2 rounds + init + collect " +
        "(round no longer materializes in one action?)")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("shortest paths: hop counts along edge direction to the landmark") {
    // landmark d (=4): a->b->c->d = 3, c->d = 1, d = 0; e/f reach d via
    // e->f->d; the loner has no path -> absent from the result
    val sp = GraphAnalytics.shortestPaths(g, toLong, landmarks = Seq(4L)).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(sp("v:d") == 0L && sp("v:c") == 1L && sp("v:b") == 2L && sp("v:a") == 3L)
    assert(sp("v:f") == 1L && sp("v:e") == 2L)
    assert(!sp.contains("v:lone"))
  }

  test("shortest paths DF: one scheduler job per round (probe rides the materialization)") {
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          jobStart: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = GraphAnalytics.shortestPathsDF(g, toLong, Seq(4L)).collect()
      assert(out.length == 6) // loner unreachable
      org.apache.spark.GraftSchedulerProbe.drainListenerBus(spark.sparkContext)
      // this fixture converges in 3 productive BFS rounds + 1 confirming
      // round. budget: 1 seed-checkpoint job + 1 fused probe/
      // materialization job per round (4) + the final collect = 6, +3
      // slack for the verts/edges persist materializations the first
      // action may split out
      val jobs = counter.get()
      assert(jobs <= 9, s"ssspDF spent $jobs jobs for 5 rounds + init + collect " +
        "(probe no longer fused with the round materialization?)")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("shortest paths: DataFrame min-propagation matches GraphX exactly") {
    // multi-landmark (one on each triangle), cycles, an unreachable
    // loner — the full reachability surface, keyed by (id, landmark)
    val lms = Seq(1L, 4L)
    val gx = GraphAnalytics.shortestPaths(g, toLong, lms).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val df = GraphAnalytics.shortestPathsDF(g, toLong, lms).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(df == gx, s"df $df vs graphx $gx")
    // sanity on the fixture itself: both triangles reach landmark 4
    // across the bridge, nobody reaches landmark 1 from triangle 2
    assert(df(("v:a", 4L)) == 3L && df(("v:a", 1L)) == 0L)
    assert(!df.contains(("v:d", 1L)) && !df.contains(("v:lone", 4L)))
  }

  test("triangle count: DataFrame compact-forward matches GraphX exactly") {
    val gx = GraphAnalytics.triangleCount(g, toLong).collect()
      .map(r => r.getString(0) -> r.getAs[Number](1).longValue).toMap
    val df = GraphAnalytics.triangleCountDF(g, toLong).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df == gx, s"df $df vs graphx $gx")
    // fixture sanity: both triangles count, bridge edge makes none, the
    // loner reports 0 (present, not absent)
    assert(df("v:a") == 1L && df("v:d") == 1L && df("v:lone") == 0L)
  }

  test("triangle count DF: duplicate and reversed edges collapse to one") {
    // a duplicated edge and a reversed duplicate must not create extra
    // triangles (canonicalization parity with GraphX's removeSelfEdges +
    // convertToCanonicalEdges)
    val b = new GraphBatch
    Seq("x", "y", "z").foreach(n => b.createNode(s"w:$n", PropValue.typed("N", Some(n))))
    Seq(("x", "y"), ("y", "x"), ("y", "z"), ("z", "x"), ("x", "x"))
      .foreach { case (s, d) => b.createEdge(s"w:$s", s"w:$d", PropValue.typed("E", Some(s + d))) }
    val g2 = b.toStore(spark)
    val tl: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      id => when(id === "w:x", 1L).when(id === "w:y", 2L).otherwise(3L)
    val df = GraphAnalytics.triangleCountDF(g2, tl).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df == Map("w:x" -> 1L, "w:y" -> 1L, "w:z" -> 1L), s"got $df")
  }

  test("coPurchasePairs: weights, threshold, hot-key cap bounds the self-join") {
    import spark.implicits._
    // three small baskets: (1,2,3) twice, (2,3) once → pairs (1,2)=2,
    // (1,3)=2, (2,3)=3; duplicate (key,item) rows must not inflate w
    val baskets = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L), (10L, 3L),
      (11L, 1L), (11L, 2L), (11L, 3L),
      (12L, 2L), (12L, 3L)).toDF("k", "i")
    val out = GraphAnalytics.coPurchasePairs(baskets, "k", "i", minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 2L) -> 2L, (1L, 3L) -> 2L, (2L, 3L) -> 3L), s"got $out")
    // threshold: minShared = 3 keeps only the pair all three baskets share
    val thr = GraphAnalytics.coPurchasePairs(baskets, "k", "i", minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(thr == Set((2L, 3L)), s"got $thr")

    // HOT KEY: one basket with 200 distinct items. Uncapped the self-join
    // emits C(200,2) = 19900 pairs from that single key; capped at 50 it
    // must emit exactly C(50,2) = 1225, all among the 50 SMALLEST items
    // (dense_rank item asc) — the documented recall trade. A second small
    // basket under the cap must come through bit-identically.
    val hot = (1L to 200L).map(i => (99L, i)) ++ Seq((7L, 500L), (7L, 501L), (7L, 500L))
    val skew = hot.toDF("k", "i")
    val un = GraphAnalytics.coPurchasePairs(skew, "k", "i", minShared = 1, maxPerKey = 0)
    assert(un.count() == 19900L + 1L)
    val capped = GraphAnalytics.coPurchasePairs(skew, "k", "i", minShared = 1, maxPerKey = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.size == 1225 + 1, s"got ${capped.size}")
    assert(capped.filterNot(_ == ((500L, 501L))).forall { case (a, b) => a <= 50L && b <= 50L },
      "capped pairs must only involve the 50 smallest items of the hot key")
    assert(capped.contains((500L, 501L)), "under-cap keys must be unaffected")
    // duplicate (key,item) rows must not eat cap slots: key 99's rank-50
    // item is 50 even though item 3 appears... (dense_rank, pinned above
    // by the duplicate (10,3) and (7,500) rows surviving exact)
  }

  test("randomWalks: valid edges every hop, deterministic, dead ends truncate") {
    import spark.implicits._
    // a 4-cycle plus a one-way spur into a dead end (node 9)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L),
      (1L, 0L), (2L, 1L), (3L, 2L), (0L, 3L), (4L, 9L)).toDF("src", "dst")
    val out = graft.analytics.GraphAnalytics.randomWalks(edges, walkLen = 3, seed = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byWalk = out.groupBy(_._1).map { case (w, rows) =>
      w -> rows.sortBy(_._2).map(_._3).toSeq }.toMap
    // every start node walks; step 0 is the start itself
    assert(byWalk.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byWalk.foreach { case (w, path) => assert(path.head == w) }
    // every consecutive pair is a real directed edge
    val eset = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    byWalk.values.foreach { path =>
      path.sliding(2).foreach {
        case Seq(a, b) => assert(eset.contains((a, b)), s"phantom hop $a->$b")
        case _ =>
      }
    }
    // cycle walks run the full length; the spur truncates at the dead end
    assert(Seq(0L, 1L, 2L, 3L).forall(byWalk(_).size == 4))
    assert(byWalk(4L) == Seq(4L, 9L), s"dead-end walk did not truncate: ${byWalk(4L)}")
    // bit-reproducible
    val out2 = graft.analytics.GraphAnalytics.randomWalks(edges, walkLen = 3, seed = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.sorted.toSeq == out2.sorted.toSeq)
    // a different seed changes at least one hop on the cycle
    val out3 = graft.analytics.GraphAnalytics.randomWalks(edges, walkLen = 3, seed = "u")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.sorted.toSeq != out3.sorted.toSeq, "seed does not influence the walk")
  }

  test("personalizedPageRankDF: hand-computed DAG fixpoint, mass stays seed-local") {
    import spark.implicits._
    import graft.model.{GraphStore, PropValue}
    val marker = PropValue.typed("N")
    val verts = Seq("n:1", "n:2", "n:3", "n:4", "n:5", "n:6")
      .toDF("id").withColumn("prop_hash", lit(marker.hash))
    val edges = Seq(("n:1", "n:2"), ("n:1", "n:3"), ("n:2", "n:3"), ("n:5", "n:6"))
      .toDF("src", "dst")
      .select(lit("e").as("edge_id"), col("src"), col("dst"), lit(marker.hash).as("prop_hash"))
    val props = Seq((marker.hash, marker.json, marker.variant))
      .toDF("hash", "value", "schema_type")
    val g = GraphStore(verts, edges, props, Seq.empty[(String, String)].toDF("parent_hash", "child_hash"))
    val toLong: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      id => split(id, ":").getItem(1).cast("long")
    val seeds = Seq(1L).toDF("vid")
    val ppr = graft.analytics.GraphAnalytics
      .personalizedPageRankDF(g, toLong, seeds, numIter = 10)
    // rank rides as exact DECIMAL(28,12) — partition-order independent
    assert(ppr.schema("rank").dataType ==
      org.apache.spark.sql.types.DecimalType(28, 12))
    val out = ppr.collect()
      .map(r => r.getString(0) -> r.getDecimal(1).doubleValue()).toMap
    // DAG fixpoint (exact after 3 rounds): r1 = 0.15 (seed, no in-edges);
    // r2 = 0.85*(0.15/2); r3 = 0.85*(0.15/2 + r2); the 5->6 component and
    // the isolated node carry NO mass — seed-locality is the contract.
    // All values are finite decimals within 12 dp; the double-arithmetic
    // expected values are 1-ulp approximations, hence the 1e-12 band.
    assert(out("n:1") == 0.15)
    assert(math.abs(out("n:2") - 0.85 * 0.075) < 1e-12)
    assert(math.abs(out("n:3") - 0.85 * (0.075 + 0.85 * 0.075)) < 1e-12)
    assert(out("n:4") == 0.0 && out("n:5") == 0.0 && out("n:6") == 0.0)
  }

  test("weightedRandomWalks: ladder math hand-checked, weight bias measured") {
    import spark.implicits._
    // star from 0 with weights 1:9 toward nodes 1 and 2; 1 and 2 loop home
    // with a single edge so 4-step walks keep sampling the biased choice
    val edges = Seq((0L, 1L, 1L), (0L, 2L, 9L), (1L, 0L, 1L), (2L, 0L, 1L))
      .toDF("src", "dst", "weight")
    val out = graft.analytics.GraphAnalytics
      .weightedRandomWalks(edges, walkLen = 40, seed = "bias")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // walk 0 alternates 0 -> {1|2} -> 0 -> ...: the odd steps are 20
    // independent weighted choices; P(node=2) = 0.9, so seeing node 2 in
    // [13, 20] of 20 has probability > 0.997 under the correct ladder and
    // is deterministic for this fixed seed (measured: 19)
    val odd = out.filter(t => t._1 == 0L && t._2 % 2 == 1).map(_._3)
    assert(odd.length == 20)
    val twos = odd.count(_ == 2L)
    assert(twos >= 13, s"weight-9 neighbor chosen only $twos/20 times")
    // hand-check the ladder on the md5 uniforms directly: step 1 of walk 0
    // picks in [0, 10); slots are 1 -> [0,1), 2 -> [1,10)
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("bias|0|1".getBytes("UTF-8"))
      .take(6).map(b => f"${b & 0xff}%02x").mkString
    val u = BigInt(hex, 16).toLong % 10
    val step1 = out.find(t => t._1 == 0L && t._2 == 1L).get._3
    assert(step1 == (if (u < 1) 1L else 2L), s"ladder slot mismatch: u=$u step1=$step1")
    // determinism
    val out2 = graft.analytics.GraphAnalytics
      .weightedRandomWalks(edges, walkLen = 40, seed = "bias")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.sorted.toSeq == out2.sorted.toSeq)
  }

  test("walks fuzz: random digraphs match a driver-side md5 simulator exactly") {
    import spark.implicits._
    def u48(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(6).map(b => f"${b & 0xff}%02x").mkString, 16)
    }
    val rnd = new scala.util.Random(4242)
    for (round <- 1 to 4) {
      val n = 5 + rnd.nextInt(6)
      // duplicate edges and self-loops allowed: dedupe/collapse is part of
      // the contract under test
      val raw = Seq.fill(3 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
        1L + rnd.nextInt(5)))
      val edges = raw.toDF("src", "dst", "weight")
      val len = 3 + rnd.nextInt(3)
      // driver-side adjacency: distinct (src, dst) sorted by dst; weights
      // collapse duplicates to their max
      val dedup = raw.map(t => (t._1, t._2)).distinct
      val adj = dedup.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
      val wAdj = raw.groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).max)
        .toSeq.map { case ((s, d), w) => (s, d, w) }
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).toVector).toMap
      def simulate(seed: String, pickDst: (Long, Long, Int) => Option[Long]) = {
        val starts = dedup.map(_._1).distinct.sorted
        starts.flatMap { w0 =>
          var cur = w0
          var alive = true
          (0 to len).flatMap { step =>
            if (step == 0) Seq((w0, 0L, w0))
            else if (!alive) Seq.empty
            else pickDst(w0, cur, step) match {
              case Some(d) => cur = d; Seq((w0, step.toLong, d))
              case None => alive = false; Seq.empty
            }
          }
        }.sorted
      }
      val wantU = simulate("walk", (w, cur, step) =>
        adj.get(cur).map(ns => ns((u48(s"walk|$w|$step") % ns.size).toInt)))
      val gotU = graft.analytics.GraphAnalytics.randomWalks(edges, len)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(gotU == wantU, s"round $round unweighted diverged\n got=$gotU\nwant=$wantU")
      val wantW = simulate("wwalk", { (w, cur, step) =>
        wAdj.get(cur).map { ns =>
          val tot = ns.map(_._3).sum
          val pick = u48(s"wwalk|$w|$step") % tot
          var acc = 0L
          ns.find { t => acc += t._3; pick < acc }.get._2
        }
      })
      val gotW = graft.analytics.GraphAnalytics.weightedRandomWalks(edges, len)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(gotW == wantW, s"round $round weighted diverged\n got=$gotW\nwant=$wantW")
    }
  }

  test("walkPairPmi: hand-computed micro-ln PMI over a tiny pair table") {
    import spark.implicits._
    // pairs: (a,b)=4, (a,c)=1, (b,a)=3, (c,a)=2 → N=10,
    // n(a·)=5, n(b·)=3, n(c·)=2, n(·a)=5, n(·b)=4, n(·c)=1
    val pairs = Seq(
      (1L, 2L, 4L), (1L, 3L, 1L), (2L, 1L, 3L), (3L, 1L, 2L))
      .toDF("center", "context", "n_pairs")
    val out = graft.analytics.GraphAnalytics.walkPairPmi(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    def pmi(n: Long, nc: Long, nx: Long) =
      math.floor(math.log(n.toDouble * 10 / (nc * nx)) * 1e6 + 0.5).toLong
    assert(out == Map(
      (1L, 2L) -> pmi(4, 5, 4), (1L, 3L) -> pmi(1, 5, 1),
      (2L, 1L) -> pmi(3, 3, 5), (3L, 1L) -> pmi(2, 2, 5)), s"got $out")
    // the exclusive (a,c)/(c,·) cell carries the largest association
    assert(out((1L, 3L)) == out.values.max)
  }

  test("walkSkipGramPairs: hand-traced window pairs over a fixed corpus") {
    import spark.implicits._
    // one walk 10->11->12, one walk 20->21 (already-materialized corpus —
    // the operator is independent of how walks were produced)
    val walks = Seq(
      (10L, 0L, 10L), (10L, 1L, 11L), (10L, 2L, 12L),
      (20L, 0L, 20L), (20L, 1L, 21L)).toDF("walk_id", "step", "node")
    val got = graft.analytics.GraphAnalytics.walkSkipGramPairs(walks, window = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // window=1: adjacent pairs only, both directions, one count each
    val want = Map(
      (10L, 11L) -> 1L, (11L, 10L) -> 1L, (11L, 12L) -> 1L, (12L, 11L) -> 1L,
      (20L, 21L) -> 1L, (21L, 20L) -> 1L)
    assert(got == want, s"got $got")
    // window=2 adds the distance-2 ends of the 3-node walk
    val got2 = graft.analytics.GraphAnalytics.walkSkipGramPairs(walks, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got2 == want ++ Map((10L, 12L) -> 1L, (12L, 10L) -> 1L), s"got $got2")
  }

  test("sgnsNegatives: exact replay of the unigram^0.75 ladder draw") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L, 4L), (1L, 3L, 1L), (2L, 1L, 3L), (3L, 1L, 2L), (2L, 3L, 7L))
      .toDF("center", "context", "n_pairs")
    val got = graft.analytics.GraphAnalytics.sgnsNegatives(pairs, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    // driver-side simulation: same md5-48bit uniform, same sqrt-only
    // milli-quantized x^0.75 weights, same context-ascending ladder
    def u48(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(6).map(b => f"$b%02x").mkString, 16)
    }
    val nx = Seq(2L -> 4L, 3L -> (1L + 7L), 1L -> (3L + 2L)).toMap // context marginals
    def w(n: Long) = {
      val s = math.sqrt(n.toDouble)
      math.floor(math.sqrt(s * s * s) * 1000.0 + 0.5).toLong
    }
    val ladder = nx.toSeq.sortBy(_._1)
      .scanLeft((0L, 0L, 0L)) { case ((_, _, hi), (ctx, n)) => (ctx, hi, hi + w(n)) }
      .drop(1) // (neg_node, lo, hi)
    val tot = ladder.last._3
    val want = (for {
      (c, x, _) <- Seq((1L, 2L, 4L), (1L, 3L, 1L), (2L, 1L, 3L), (3L, 1L, 2L), (2L, 3L, 7L))
      j <- 1 to 3
    } yield {
      val pick = u48(s"neg|$c|$x|$j") % tot
      val slot = ladder.find(l => pick >= l._2 && pick < l._3).get._1
      (c, x, j.toLong) -> slot
    }).toMap
    assert(got == want, s"got $got\nwant $want")
    // ^0.75 sublinearity really took effect: weights are not proportional
    // to counts (w(8)/w(4) < 2) but heavier contexts still weigh more
    assert(w(8L) < 2 * w(4L) && w(8L) > w(4L))
    // single-context noise table: every draw must land on that context
    val one = graft.analytics.GraphAnalytics.sgnsNegatives(
        Seq((5L, 9L, 2L)).toDF("center", "context", "n_pairs"), k = 4)
      .collect()
    assert(one.length == 4 && one.forall(_.getLong(3) == 9L))
  }

  test("subsampleFrequent: exact replay, hubs thinned, rare nodes untouched") {
    import spark.implicits._
    // corpus: node 1 occupies 16 of 24 occurrences (a hub), node 2 has 6,
    // nodes 3..4 one each (rare — below any threshold, must all survive)
    val rows = (0L until 8L).flatMap { w =>
      Seq((w, 0L, 1L), (w, 1L, 1L)) ++
        (if (w < 6) Seq((w, 2L, 2L)) else Seq((w, 2L, 3L + (w % 2))))
    }
    val walks = rows.toDF("walk_id", "step", "node")
    val tMicro = 100000L // t = 0.1: hub keep-p = sqrt(0.1/(16/24)) ≈ 0.39
    val got = graft.analytics.GraphAnalytics.subsampleFrequent(walks, tMicro)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // driver-side replay: identical md5 uniform, identical CR chain
    def u48(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(6).map(b => f"$b%02x").mkString, 16)
    }
    val n = rows.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val bigN = rows.size.toLong
    def thresh(node: Long): Double =
      math.floor(math.sqrt((tMicro.toDouble * bigN) / (1000000.0 * n(node)))
        * 281474976710656.0)
    val keptRaw = rows.filter { case (w, s, nd) => u48(s"sub|$w|$s") < thresh(nd) }
    val want = keptRaw.groupBy(_._1).toSeq.flatMap { case (w, rs) =>
      rs.sortBy(_._2).zipWithIndex.map { case ((_, _, nd), i) => (w, i.toLong, nd) }
    }.sorted
    assert(got == want, s"got $got\nwant $want")
    // rare nodes (f < t) all survive; the hub really was thinned
    val keptNodes = got.map(_._3)
    assert(keptNodes.count(_ == 3L) == 1 && keptNodes.count(_ == 4L) == 1)
    assert(keptNodes.count(_ == 1L) < 16, "hub not thinned")
    assert(keptNodes.count(_ == 1L) > 0, "hub wiped out — threshold degenerate")
    // steps are dense 0..k-1 per walk after compaction
    got.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).sorted == (0L until g.size).toSeq)
    }
  }

  test("node2vecWalks: exact second-order replay incl. dead end, p/q bias real") {
    import spark.implicits._
    // triangle 0-1-2 (symmetrized) + spur 1→9 (dead end) + pendant 2↔3:
    // from 1, candidates {0, 2, 9, 3?}: return vs stay-local vs venture
    val edgeSeq = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (2L, 0L), (0L, 2L),
      (1L, 9L), (2L, 3L), (3L, 2L))
    val edges = edgeSeq.toDF("src", "dst")
    val (retM, outM) = (250L, 4000L)
    val got = graft.analytics.GraphAnalytics
      .node2vecWalks(edges, walkLen = 3, retMilli = retM, outMilli = outM)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // driver-side simulation of the exact integer ladder
    def u48(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(6).map(b => f"$b%02x").mkString, 16)
    }
    val adj = edgeSeq.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val eset = edgeSeq.toSet
    val want = adj.keySet.toSeq.sorted.flatMap { w0 =>
      var prev = w0; var cur = w0; var alive = true
      (0 to 3).flatMap { step =>
        if (step == 0) Seq((w0, 0L, w0))
        else if (!alive) Seq.empty
        else adj.get(cur) match {
          case None => alive = false; Seq.empty
          case Some(ns) =>
            val ws = ns.map { d =>
              if (step == 1) 1000L
              else if (d == prev) retM
              else if (eset.contains((prev, d))) 1000L
              else outM
            }
            val tot = ws.sum
            val pick = u48(s"n2v|$w0|$step") % tot
            var acc = 0L
            val idx = ws.indexWhere { w => acc += w; pick < acc }
            prev = cur; cur = ns(idx)
            Seq((w0, step.toLong, cur))
        }
      }
    }.sorted
    assert(got == want, s"got $got\nwant $want")
    // the bias knobs really steer: with return made overwhelming and
    // venture forbidden-ish, step 2 must return to the start node
    val gotRet = graft.analytics.GraphAnalytics
      .node2vecWalks(edges, walkLen = 2, retMilli = 100000000L, outMilli = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (w, rs) => w -> rs.sortBy(_._2).map(_._3).toSeq }
    gotRet.foreach { case (w, path) =>
      if (path.size == 3 && adj(path(1)).contains(w))
        assert(path(2) == w, s"walk $w did not return under huge retMilli: $path")
    }
  }

  test("k-core: cascading peel strips the tendril, keeps the clique") {
    import spark.implicits._
    // K4 on {1,2,3,4} plus a path 4-5-6: peeling k=2 must CASCADE — 6
    // falls (deg 1), then 5 (deg 1 after 6 left) — while K4 survives
    // with within-core degree 3. Parallel and reversed duplicates of one
    // clique edge check canonicalization.
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 3L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val core = GraphAnalytics.kCore(pairs, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $core")
    // k above the max degree empties the core
    assert(GraphAnalytics.kCore(pairs, k = 5).count() == 0)
    // the GraphStore wrapper maps back to string ids
    val b = new GraphBatch
    Seq("1", "2", "3").foreach(n => b.createNode(s"k:$n", PropValue.typed("N", Some(n))))
    Seq(("1", "2"), ("2", "3"), ("3", "1"))
      .foreach { case (s, d) => b.createEdge(s"k:$s", s"k:$d", PropValue("E")) }
    val viaStore = GraphAnalytics.kCoreDF(b.toStore(spark),
        id => split(id, ":").getItem(1).cast("long"), k = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaStore == Map("k:1" -> 2L, "k:2" -> 2L, "k:3" -> 2L), s"got $viaStore")
  }

  test("hitsDF: hand-computed integer hub/auth iterates on a directed chain") {
    // 1→3, 2→3, 3→4: after round 1 h = outdeg, a(3) = 2, a(4) = 1;
    // after round 2 h(1) = h(2) = a(3) = 2, h(3) = a(4) = 1, a(3) = 4
    val b = new GraphBatch
    Seq("1", "2", "3", "4").foreach(n => b.createNode(s"h:$n", PropValue.typed("N", Some(n))))
    Seq(("1", "3"), ("2", "3"), ("3", "4"))
      .foreach { case (s, d) => b.createEdge(s"h:$s", s"h:$d", PropValue("E")) }
    val g = b.toStore(spark)
    def run(n: Int) = GraphAnalytics.hitsDF(g,
        id => split(id, ":").getItem(1).cast("long"), numIter = n)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(run(2) == Map(
      "h:1" -> ((2L, 0L)), "h:2" -> ((2L, 0L)),
      "h:3" -> ((1L, 4L)), "h:4" -> ((0L, 1L))), s"got ${run(2)}")
    assert(run(1) == Map(
      "h:1" -> ((1L, 0L)), "h:2" -> ((1L, 0L)),
      "h:3" -> ((1L, 2L)), "h:4" -> ((0L, 1L))), s"got ${run(1)}")
  }

  test("hitsDF: dense graph at high numIter fails loudly instead of wrapping") {
    // complete digraph on 32 vertices (self-loops excluded): iterates grow
    // ~31^(2·numIter), crossing Long.MaxValue (~9.2e18, i.e. 31^13.8)
    // before numIter=8 — an unguarded sum would wrap silently and return
    // garbage rankings. The guard must raise ArithmeticException.
    val b = new GraphBatch
    val n = 32
    (1 to n).foreach(i => b.createNode(s"d:$i", PropValue.typed("N", Some(i.toString))))
    for (i <- 1 to n; j <- 1 to n if i != j)
      b.createEdge(s"d:$i", s"d:$j", PropValue("E"))
    val g = b.toStore(spark)
    def run(iters: Int) = GraphAnalytics.hitsDF(g,
      id => split(id, ":").getItem(1).cast("long"), numIter = iters)
    // a safe depth still returns exact symmetric scores
    val shallow = run(2).collect().map(r => (r.getLong(1), r.getLong(2))).distinct
    assert(shallow.length == 1 && shallow(0)._1 > 0L, s"got ${shallow.toSeq}")
    val ex = intercept[ArithmeticException] { run(8).collect() }
    assert(ex.getMessage.contains("overflow"), s"got ${ex.getMessage}")
  }

  test("modularityByCommunity: two triangles + bridge, hand-computed Q per community") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} joined by 3-4; vertex 7 isolated
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val sym = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("a", "b")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L), (7L, 7L))
      .toDF("vid", "label")
    val out = GraphAnalytics.modularityByCommunity(labels, sym).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    // M = 14 directed edges; each triangle community: E_c = 6, D_c = 7,
    // Q_c = (6*14 - 49)/196 = 35/196 = 0.178571
    assert(out(1L) == ((3L, 7L, 6L, 0.178571)), s"got ${out(1L)}")
    assert(out(4L) == ((3L, 7L, 6L, 0.178571)), s"got ${out(4L)}")
    // isolated singleton community contributes nothing
    assert(out(7L) == ((1L, 0L, 0L, 0.0)), s"got ${out(7L)}")
    // whole-graph Q = sum of contributions; putting EVERYTHING in one
    // community gives Q = 0 exactly (E_c = M, D_c = M)
    val one = GraphAnalytics.modularityByCommunity(
      labels.select($"vid", lit(1L).as("label")), sym).collect()
    assert(one.length == 1 && one(0).getDouble(4) == 0.0, s"got ${one.toSeq}")
  }

  test("clusteringCoefficients: triangle + tendril, dups/loops collapse, deg<2 scores 0") {
    import spark.implicits._
    // triangle {1,2,3} + tendril 3-4; dup edge, reversed dup, self-loop
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (2L, 1L), (1L, 2L), (4L, 4L)).toDF("a", "b")
    val out = GraphAnalytics.clusteringCoefficients(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // v1, v2: deg 2, 1 triangle → 2e6/2 = 1000000
    // v3: deg 3, 1 triangle → 2e6 DIV 6 = 333333;  v4: deg 1 → 0
    assert(out == Map(
      1L -> ((2L, 1L, 1000000L)),
      2L -> ((2L, 1L, 1000000L)),
      3L -> ((3L, 1L, 333333L)),
      4L -> ((1L, 0L, 0L))), s"got $out")
  }

  test("assortativity: star = -1, degree-homogeneous components = +1") {
    import spark.implicits._
    def sym(und: Seq[(Long, Long)]) =
      und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("a", "b")
    // star 1-{2,3,4}: every edge joins deg 3 to deg 1 — perfectly
    // disassortative
    val star = GraphAnalytics.assortativity(sym(Seq((1L, 2L), (1L, 3L), (1L, 4L))))
      .collect()(0)
    assert(star.getLong(0) == 6L && star.getLong(1) == 18L &&
      star.getLong(2) == 12L && star.getLong(3) == 30L, s"got $star")
    assert(star.getDouble(4) == -1.0, s"got ${star.getDouble(4)}")
    // triangle + disjoint edge: both endpoints of every edge share a
    // degree — perfectly assortative
    val mixed = GraphAnalytics.assortativity(
      sym(Seq((1L, 2L), (2L, 3L), (1L, 3L), (8L, 9L)))).collect()(0)
    assert(mixed.getDouble(4) == 1.0, s"got ${mixed.getDouble(4)}")
    // degree-REGULAR graph: zero degree variance, correlation undefined
    // → NULL (an unguarded ANSI double division would raise instead)
    val reg = GraphAnalytics.assortativity(
      sym(Seq((1L, 2L), (2L, 3L), (1L, 3L)))).collect()(0)
    assert(reg.isNullAt(4), s"got $reg")
  }

  test("louvainMoveRound: singleton ascent hand-traced; converged partition is a fixpoint") {
    import spark.implicits._
    // two triangles {1,2,3} {4,5,6} + bridge 3-4; M = 14
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val sym = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("a", "b")
    val singles = (1L to 6L).map(v => (v, v)).toDF("vid", "label")
    val out = GraphAnalytics.louvainMoveRound(singles, sym).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // hand-traced argmax of 14*k_vc - kv*D'c over neighbor communities:
    // deg-2 vertices join their deg-2 neighbor (score 10); 3 ties between
    // its two deg-2 triangle mates -> smallest (1); 4 prefers 5 (score 8)
    assert(out == Map(
      1L -> ((2L, 10L)), 2L -> ((1L, 10L)), 3L -> ((1L, 8L)),
      4L -> ((5L, 8L)), 5L -> ((6L, 10L)), 6L -> ((5L, 10L))), s"got $out")
    // the converged triangle partition: every vertex's best move is to
    // stay home (gain of own community dominates)
    val conv = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("vid", "label")
    val stay = GraphAnalytics.louvainMoveRound(conv, sym).collect()
    assert(stay.forall(r => r.getLong(1) == r.getLong(2)),
      s"got ${stay.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq}")
  }

  /** Independent sequential replay of [[GraphAnalytics.louvain]]'s exact
    * schedule (parity-alternated rounds, own-wins-then-label-asc
    * tie-breaks, two-zero-round fixpoint, coarsen, repeat) on plain Scala
    * collections — the brute-force cross-check twin. */
  private def replayLouvain(sym0: Seq[(Long, Long, Long)],
                            maxLevels: Int, maxRounds: Int): Map[Long, Long] = {
    var e = sym0
    var mapping: Map[Long, Long] = null
    var level = 0
    var levelMoved = true
    while (level < maxLevels && levelMoved) {
      val deg = e.groupBy(_._1).map { case (v, ts) => v -> ts.map(_._3).sum }
      val bigM = e.map(_._3).sum
      var lab: Map[Long, Long] = deg.keys.map(v => v -> v).toMap
      var round = 0
      var zero = 0
      while (round < maxRounds && zero < 2) {
        val parity = round % 2
        // NOTE .keys.toSeq before map: mapping a Set through deg would
        // collapse members with EQUAL degrees and under-sum D_c
        val dc = lab.groupBy(_._2).map { case (c, vs) => c -> vs.keys.toSeq.map(deg).sum }
        val next = lab.map { case (v, l) =>
          if (v % 2 != parity) v -> l
          else {
            val kvc = e.filter(t => t._1 == v && t._2 != v)
              .groupBy(t => lab(t._2)).map { case (c, ts) => c -> ts.map(_._3).sum }
            val best = (kvc.keySet + l).toSeq.map { c =>
              val dcp = dc.getOrElse(c, 0L) - (if (c == l) deg(v) else 0L)
              val score = bigM * kvc.getOrElse(c, 0L) - deg(v) * dcp
              (-score, if (c == l) 0 else 1, c)
            }.min
            v -> best._3
          }
        }
        val moved = next.count { case (v, l) => lab(v) != l }
        zero = if (moved == 0) zero + 1 else 0
        lab = next
        round += 1
      }
      levelMoved = lab.exists { case (v, l) => v != l }
      mapping = if (mapping == null) lab else mapping.map { case (v, m) => v -> lab(m) }
      if (levelMoved && level + 1 < maxLevels)
        e = e.groupBy(t => (lab(t._1), lab(t._2)))
          .map { case ((a, b), ts) => (a, b, ts.map(_._3).sum) }.toSeq
      level += 1
    }
    mapping
  }

  test("kTruss: K4 survives the 4-truss, attached triangle peels; randomized brute-force") {
    import spark.implicits._
    // K4 on {1,2,3,4} (every edge closes 2 triangles) + triangle {4,5,6}
    // hanging off vertex 4 (each of its edges closes exactly 1)
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L))
    val out = GraphAnalytics.kTruss(und.toDF("a", "b"), k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 2L) -> 2L, (1L, 3L) -> 2L, (1L, 4L) -> 2L,
      (2L, 3L) -> 2L, (2L, 4L) -> 2L, (3L, 4L) -> 2L), s"got $out")
    // k=3 keeps every edge that closes a triangle: all 9 here
    val t3 = GraphAnalytics.kTruss(und.toDF("a", "b"), k = 3).collect()
    assert(t3.length == 9 && t3.forall(_.getLong(2) >= 1L), s"got ${t3.toSeq}")
    // cascade: k=5 empties this graph (no edge closes 3 triangles)
    assert(GraphAnalytics.kTruss(und.toDF("a", "b"), k = 5).count() == 0L)

    // randomized cross-check vs a sequential peel
    def truss(edges: Set[(Long, Long)], k: Int): Map[(Long, Long), Long] = {
      def supports(s: Set[(Long, Long)]) = {
        val adj = s.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupMap(_._1)(_._2).map { case (v, ns) => v -> ns.toSet }
        s.map { case (a, b) => (a, b) -> (adj(a) & adj(b)).size.toLong }.toMap
      }
      var e = edges
      var changed = true
      while (changed) {
        val next = supports(e).filter(_._2 >= k - 2).keySet
        changed = next != e
        e = next
      }
      supports(e)
    }
    val rnd = new scala.util.Random(515)
    for (trial <- 1 to 3) {
      val n = 9 + trial * 3
      val undR = (for {
        u <- 1L to n.toLong; v <- (u + 1) to n.toLong
        if rnd.nextDouble() < 0.35
      } yield (u, v)).toSet
      if (undR.nonEmpty) {
        val got = GraphAnalytics.kTruss(undR.toSeq.toDF("a", "b"), k = 4).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val want = truss(undR, 4)
        assert(got == want, s"trial $trial: ${got.toSet.diff(want.toSet).take(8)}")
      }
    }
  }

  test("refineCommunities: disconnected communities split, fragments relabel to min vid") {
    import spark.implicits._
    // community 7 = {1,2,3,4} whose induced subgraph is 1-2 and 3-4
    // (DISCONNECTED — the defect Leiden refinement exists to fix);
    // community 8 = {5} has no intra edge; 2-5 and 4-5 cross communities
    // and must not merge fragments
    val sym = Seq((1L, 2L), (3L, 4L), (2L, 5L), (4L, 5L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("a", "b")
    val lab = Seq((1L, 7L), (2L, 7L), (3L, 7L), (4L, 7L), (5L, 8L)).toDF("vid", "label")
    val out = GraphAnalytics.refineCommunities(lab, sym).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L), s"got $out")
    // idempotent: refined labels are well-formed, refining again is a no-op
    val again = GraphAnalytics.refineCommunities(
        out.toSeq.toDF("vid", "label"), sym).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out, s"got $again")
  }

  test("louvain: two-triangle hierarchy hand-traced (level-1 fixpoint, level-2 no-merge)") {
    import spark.implicits._
    // {1,2,3} {4,5,6} + bridge 3-4. Parity schedule, M = 14:
    //   r0 (even move): 2->1 (score 10), 4->5 (tie 8, label asc), 6->5 (10)
    //   r1 (odd move):  3->1 (2*14-3*4 = 16); 1, 5 stay home
    //   r2, r3: zero moves -> level-1 fixpoint {1,2,3}->1, {4,5,6}->5
    // level 2 (selfloops w6, bridge w1, k=7 each): joining scores
    // 14*1 - 7*7 = -35 < 0 -> no move out of singletons -> done.
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val sym = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("a", "b")
    val out = GraphAnalytics.louvain(sym, maxLevels = 3, maxRounds = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 5L, 5L -> 5L, 6L -> 5L),
      s"got $out")
    // weighted input: tripling every weight must not change the argmax
    val symW = und.flatMap { case (a, b) => Seq((a, b, 3L), (b, a, 3L)) }.toDF("a", "b", "w")
    val outW = GraphAnalytics.louvain(symW, maxLevels = 3, maxRounds = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(outW == out, s"got $outW")
  }

  test("louvain: ring of 16 K4 cliques merges PAIRS at level 2 (resolution limit)") {
    import spark.implicits._
    // the Fortunato–Barthelemy resolution-limit graph: level 1 finds the
    // 16 cliques; on the coarse graph M*w_inter = 14n > k^2 = 196 for
    // n = 16 cliques, so adjacent clique-supervertices merge
    val cliques = (0 until 16).map(c => (4 * c + 1L) to (4 * c + 4L))
    val intra = cliques.flatMap(vs =>
      for (i <- vs.indices; j <- (i + 1) until vs.size) yield (vs(i), vs(j)))
    val bridges = (0 until 16).map(c => (4L * c + 4, (4L * ((c + 1) % 16) + 1)))
    val und = intra ++ bridges
    val symSeq = und.flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }
    val got = GraphAnalytics.louvain(symSeq.toDF("a", "b", "w"),
        maxLevels = 4, maxRounds = 12).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = replayLouvain(symSeq, maxLevels = 4, maxRounds = 12)
    assert(got == want, s"diff: ${got.toSet.diff(want.toSet).take(8)}")
    // structural claims: fewer communities than cliques (a real level-2
    // merge happened) and every K4 lands whole in one community
    val nComms = got.values.toSet.size
    assert(nComms < 16 && nComms >= 2, s"got $nComms communities")
    cliques.foreach(vs =>
      assert(vs.map(got).toSet.size == 1, s"clique $vs split: ${vs.map(got)}"))
  }

  test("louvain: randomized graphs match the sequential replay exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(2718)
    for (trial <- 1 to 3) {
      val n = 8 + trial * 4
      val und = (for {
        u <- 1L to n.toLong; v <- (u + 1) to n.toLong
        if rnd.nextDouble() < 0.25
      } yield (u, v, 1L + rnd.nextInt(3).toLong)).toSeq
      if (und.nonEmpty) {
        val symSeq = und.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
        val got = GraphAnalytics.louvain(symSeq.toDF("a", "b", "w"),
            maxLevels = 3, maxRounds = 10).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = replayLouvain(symSeq, maxLevels = 3, maxRounds = 10)
        assert(got == want, s"trial $trial: ${got.toSet.diff(want.toSet).take(8)}")
      }
    }
  }

  /** Union-find cc with min-member labels — the sequential twin of the
    * refinement step (ConnectedComponents.labels semantics). */
  private def ccMinLabels(verts: Set[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(verts.toSeq.map(v => v -> v): _*)
    def find(v: Long): Long = { var r = v; while (parent(r) != r) r = parent(r); r }
    for ((a, b) <- edges) {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra max rb) = ra min rb // root stays the min member
    }
    verts.map(v => v -> find(v)).toMap
  }

  /** Independent sequential replay of [[GraphAnalytics.leiden]]'s exact
    * schedule: replayLouvain's move rounds per level, then cc-refinement
    * over intra-community edges, fragment coarsening and home-community
    * restart — the brute-force cross-check twin. */
  private def replayLeiden(sym0: Seq[(Long, Long, Long)],
                           maxLevels: Int, maxRounds: Int): Map[Long, Long] = {
    var e = sym0
    var map: Map[Long, Long] = null
    var init: Map[Long, Long] = null
    var lab: Map[Long, Long] = null
    for (level <- 1 to maxLevels) {
      val deg = e.groupBy(_._1).map { case (v, ts) => v -> ts.map(_._3).sum }
      val bigM = e.map(_._3).sum
      lab = if (init == null) deg.keys.map(v => v -> v).toMap else init
      var round = 0
      var zero = 0
      while (round < maxRounds && zero < 2) {
        val parity = round % 2
        val dc = lab.groupBy(_._2).map { case (c, vs) => c -> vs.keys.toSeq.map(deg).sum }
        val next = lab.map { case (v, l) =>
          if (v % 2 != parity) v -> l
          else {
            val kvc = e.filter(t => t._1 == v && t._2 != v)
              .groupBy(t => lab(t._2)).map { case (c, ts) => c -> ts.map(_._3).sum }
            val best = (kvc.keySet + l).toSeq.map { c =>
              val dcp = dc.getOrElse(c, 0L) - (if (c == l) deg(v) else 0L)
              val score = bigM * kvc.getOrElse(c, 0L) - deg(v) * dcp
              (-score, if (c == l) 0 else 1, c)
            }.min
            v -> best._3
          }
        }
        val moved = next.count { case (v, l) => lab(v) != l }
        zero = if (moved == 0) zero + 1 else 0
        lab = next
        round += 1
      }
      if (level < maxLevels) {
        val intra = e.filter(t => t._1 != t._2 && lab(t._1) == lab(t._2))
          .map(t => (t._1, t._2))
        val frag = ccMinLabels(deg.keySet, intra)
        init = frag.groupBy(_._2).map { case (f, vs) => f -> vs.keys.map(lab).min }
        map = if (map == null) frag else map.map { case (v, c) => v -> frag(c) }
        e = e.groupBy(t => (frag(t._1), frag(t._2)))
          .map { case ((a, b), ts) => (a, b, ts.map(_._3).sum) }.toSeq
      }
    }
    if (map == null) lab else map.map { case (v, c) => v -> lab(c) }
  }

  test("leiden: connected communities make interleaving a no-op (hand-traced)") {
    import spark.implicits._
    // the louvain hand-trace graph: {1,2,3} {4,5,6} + bridge 3-4. Level-1
    // communities are CONNECTED, so refinement fragments = communities
    // (min-member ids 1 and 4), homes carry labels 1 and 5, and the
    // coarse levels replay louvain's no-merge trace — final partition
    // identical to louvain's
    val symSeq = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L),
      (3L, 4L)).flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }
    val got = GraphAnalytics.leiden(symSeq.toDF("a", "b", "w"),
        maxLevels = 3, maxRounds = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 5L, 5L -> 5L, 6L -> 5L),
      s"got $got")
    assert(got == replayLeiden(symSeq, 3, 8))
  }

  test("leiden: interleaved refinement changes the outcome vs post-hoc (pinned)") {
    import spark.implicits._
    def part(df: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    def run(und: Seq[(Long, Long, Long)]): (Set[Set[Long]], Set[Set[Long]], Set[Set[Long]]) = {
      val symSeq = und.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      val sym = symSeq.toDF("a", "b", "w")
      val lv = GraphAnalytics.louvain(sym, maxLevels = 3, maxRounds = 8)
        .localCheckpoint(true)
      (part(lv),
        part(GraphAnalytics.refineCommunities(lv, sym.select("a", "b"))),
        part(GraphAnalytics.leiden(sym, maxLevels = 3, maxRounds = 8)))
    }
    // FIXTURE A (7 edges — hand-traceable): louvain's bounded ascent
    // leaves community {3,6,9} internally DISCONNECTED — its only intra
    // edge is 3-6; vertex 9's edges (2-9, 7-9) both leave the community.
    // Post-hoc refinement can only SPLIT it ({3,6} + {9}). The
    // interleaved schedule instead coarsens on the fragments, restarts
    // both in the same home community, and the coarse ascent RE-RATIFIES
    // the union — the grouping survives as a coarse-level decision, not
    // an unrepaired artifact. Interleaved ≠ post-hoc on the same input.
    val (lvA, postA, leiA) = run(Seq((1L, 2L, 2L), (2L, 5L, 2L), (2L, 9L, 1L),
      (3L, 6L, 2L), (3L, 7L, 2L), (5L, 10L, 1L), (7L, 9L, 2L)))
    assert(lvA == Set(Set(1L, 2L, 5L, 10L), Set(3L, 6L, 9L), Set(7L)), s"got $lvA")
    assert(postA == Set(Set(1L, 2L, 5L, 10L), Set(3L, 6L), Set(9L), Set(7L)), s"got $postA")
    assert(leiA == lvA && leiA != postA)
    // FIXTURE B (18 edges): interleaving changes the ASCENT itself —
    // leiden's partition differs from louvain's AND from post-hoc
    // refinement ({1,2} splits out; 5/7/11/4 re-home together)
    val (lvB, postB, leiB) = run(Seq((1L, 2L, 3L), (1L, 3L, 3L), (1L, 8L, 2L),
      (2L, 5L, 1L), (2L, 9L, 1L), (3L, 5L, 1L), (3L, 7L, 3L), (3L, 11L, 2L),
      (4L, 6L, 2L), (4L, 8L, 3L), (4L, 11L, 3L), (5L, 10L, 2L), (5L, 11L, 2L),
      (6L, 8L, 3L), (6L, 9L, 3L), (6L, 10L, 2L), (8L, 9L, 2L), (8L, 10L, 2L)))
    assert(lvB == Set(Set(6L, 8L, 9L, 10L), Set(1L, 2L, 4L, 5L, 7L, 11L), Set(3L)),
      s"got $lvB")
    assert(postB == Set(Set(6L, 8L, 9L, 10L), Set(1L, 2L, 4L, 5L, 11L), Set(7L), Set(3L)),
      s"got $postB")
    assert(leiB == Set(Set(1L, 2L), Set(6L, 8L, 9L, 10L), Set(4L, 5L, 7L, 11L), Set(3L)),
      s"got $leiB")
    assert(leiB != lvB && leiB != postB)
  }

  test("leiden: randomized graphs match the sequential replay exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(3141)
    for (trial <- 1 to 3) {
      val n = 8 + trial * 4
      val und = (for {
        u <- 1L to n.toLong; v <- (u + 1) to n.toLong
        if rnd.nextDouble() < 0.25
      } yield (u, v, 1L + rnd.nextInt(3).toLong)).toSeq
      if (und.nonEmpty) {
        val symSeq = und.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
        val got = GraphAnalytics.leiden(symSeq.toDF("a", "b", "w"),
            maxLevels = 3, maxRounds = 8).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = replayLeiden(symSeq, maxLevels = 3, maxRounds = 8)
        assert(got == want, s"trial $trial: ${got.toSet.diff(want.toSet).take(8)}")
      }
    }
  }

  test("modularityTotal: hand-traced two-triangle partition; beats singletons") {
    import spark.implicits._
    // {1,2,3} {4,5,6} + bridge 3-4, partition = the two triangles:
    // M = 14, ΣE_c = 12, D_c = 7 each → Q = (14·12 − 98)/196 = 0.357143
    val sym = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L),
      (3L, 4L)).flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("a", "b")
    val lab = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 5L), (5L, 5L), (6L, 5L))
      .toDF("vid", "label")
    val row = GraphAnalytics.modularityTotal(lab, sym).collect().head
    assert(row.getLong(0) == 2L && row.getLong(1) == 12L, s"got $row")
    assert(math.abs(row.getDouble(2) - 0.357143) < 1e-9, s"got $row")
    // singletons: ΣE = 0; degrees (2,2,3,3,2,2) → Σd² = 4+4+9+9+4+4 = 34
    // → Q = −34/196 ≈ −0.173469 — any real community structure beats it
    val singles = (1L to 6L).map(v => (v, v)).toDF("vid", "label")
    val qs = GraphAnalytics.modularityTotal(singles, sym).collect().head
    assert(math.abs(qs.getDouble(2) - (-34.0 / 196.0)) < 1e-6, s"got $qs")
    assert(row.getDouble(2) > qs.getDouble(2))
    // and the louvain quality claim the gate row reports: on the clique
    // ring, Q(louvain partition) > Q(singletons)
    val cliques = (0 until 8).map(c => (4 * c + 1L) to (4 * c + 4L))
    val intra = cliques.flatMap(vs =>
      for (i <- vs.indices; j <- (i + 1) until vs.size) yield (vs(i), vs(j)))
    val bridges = (0 until 8).map(c => (4L * c + 4, (4L * ((c + 1) % 8) + 1)))
    val symSeq = (intra ++ bridges).flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val ringSym = symSeq.toDF("a", "b")
    val part = GraphAnalytics.louvain(symSeq.map(t => (t._1, t._2, 1L)).toDF("a", "b", "w"),
      maxLevels = 3, maxRounds = 8)
    val qLouvain = GraphAnalytics.modularityTotal(part, ringSym).collect().head.getDouble(2)
    val qSingle = GraphAnalytics.modularityTotal(
      ringSym.select(col("a").as("vid")).distinct()
        .select(col("vid"), col("vid").as("label")), ringSym).collect().head.getDouble(2)
    assert(qLouvain > qSingle, s"louvain $qLouvain vs singletons $qSingle")
  }

  test("leiden quality: Q(leiden) >= Q(louvain) (the graph_leiden_quality claim)") {
    import spark.implicits._
    // the graph_leiden_quality gate row reports both Q values on the
    // co-purchase graph; this pins the inequality the scaladoc's
    // default-choice note rests on, on fixtures where the schedules
    // actually diverge (fixture B of the interleaving test, unweighted)
    // and where they coincide (the clique ring — equality)
    def q(labels: org.apache.spark.sql.DataFrame,
          sym: org.apache.spark.sql.DataFrame): Double =
      GraphAnalytics.modularityTotal(labels, sym).collect().head.getDouble(2)
    val fixB = Seq((1L, 2L), (1L, 3L), (1L, 8L), (2L, 5L), (2L, 9L), (3L, 5L),
      (3L, 7L), (3L, 11L), (4L, 6L), (4L, 8L), (4L, 11L), (5L, 10L),
      (5L, 11L), (6L, 8L), (6L, 9L), (6L, 10L), (8L, 9L), (8L, 10L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("a", "b")
    val qLei = q(GraphAnalytics.leiden(fixB, maxLevels = 3, maxRounds = 8), fixB)
    val qLv = q(GraphAnalytics.louvain(fixB, maxLevels = 3, maxRounds = 8), fixB)
    assert(qLei >= qLv, s"leiden $qLei vs louvain $qLv")
    val cliques = (0 until 8).map(c => (4 * c + 1L) to (4 * c + 4L))
    val intra = cliques.flatMap(vs =>
      for (i <- vs.indices; j <- (i + 1) until vs.size) yield (vs(i), vs(j)))
    val bridges = (0 until 8).map(c => (4L * c + 4, (4L * ((c + 1) % 8) + 1)))
    val ring = (intra ++ bridges).flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("a", "b")
    val qLeiR = q(GraphAnalytics.leiden(ring, maxLevels = 3, maxRounds = 8), ring)
    val qLvR = q(GraphAnalytics.louvain(ring, maxLevels = 3, maxRounds = 8), ring)
    assert(qLeiR >= qLvR, s"ring: leiden $qLeiR vs louvain $qLvR")
  }

  test("trussWedges: degree orientation bounds hub wedges (skewed-hub spec)") {
    import spark.implicits._
    // low-id hub 0 with 1000 leaves: the id-oriented form apexed every
    // wedge at the hub — C(1000, 2) = 499 500 rows per peel round. The
    // (degree, id) orientation points every edge leaf→hub, so leaves
    // (outdeg 1) and the hub (outdeg 0) emit ZERO wedges.
    val star = (1L to 1000L).map(v => (0L, v)).toDF("a", "b")
    val (_, wStar) = GraphAnalytics.trussWedges(star)
    assert(wStar.count() == 0L)
    // + one leaf-leaf edge (1,2): orientation points 1→0, 2→0 and 1→2
    // (equal degrees, id asc), so only vertex 1 has outdeg 2 ({0, 2}) —
    // exactly ONE wedge, (deg, id)-ordered t1 = 2 (deg 2) before t2 = 0
    // (deg 1000); the closing probe finds oriented 2→0 and admits the
    // triangle (0,1,2) exactly once.
    val starT = star.unionByName(Seq((1L, 2L)).toDF("a", "b"))
    val (_, w1) = GraphAnalytics.trussWedges(starT)
    val rows = w1.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 2L, 0L)), s"got ${rows.toSeq}")
    // end-to-end: the 3-truss of star+edge is the single triangle, each
    // edge closing exactly one
    val t3 = GraphAnalytics.kTruss(starT, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t3 == Map((0L, 1L) -> 1L, (0L, 2L) -> 1L, (1L, 2L) -> 1L), s"got $t3")
  }

  test("second-wave metrics: randomized graphs vs driver brute-force references") {
    import spark.implicits._
    val rnd = new scala.util.Random(1313)
    for (trial <- 1 to 3) {
      val n = 10 + trial * 5
      val und = (for {
        u <- 1L to n.toLong; v <- (u + 1) to n.toLong
        if rnd.nextDouble() < 0.3
      } yield (u, v)).toSeq
      val adj = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      val deg = adj.map { case (k, vs) => k -> vs.size.toLong }
      val sym = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("a", "b")

      // assortativity: Pearson sums over directed edges
      val rows = und.flatMap { case (a, b) => Seq((deg(a), deg(b)), (deg(b), deg(a))) }
      val m = rows.size.toLong
      val sjk = rows.map { case (j, k) => j * k }.sum
      val sj = rows.map(_._1).sum
      val sj2 = rows.map { case (j, _) => j * j }.sum
      val den = m * sj2 - sj * sj
      val got = GraphAnalytics.assortativity(sym).collect()(0)
      assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) ==
        ((m, sjk, sj, sj2)), s"trial $trial sums: $got")
      if (den == 0) assert(got.isNullAt(4), s"trial $trial: expected null r")
      else {
        // round(…, 6) moves the value at most 5e-7 from the exact ratio
        val r = (m * sjk - sj * sj).toDouble / den
        assert(math.abs(got.getDouble(4) - r) <= 5.01e-7,
          s"trial $trial: ${got.getDouble(4)} vs $r")
      }

      // clustering coefficients: brute-force triangles per vertex
      val canonPairs = und.toSet
      def isEdge(x: Long, y: Long) = canonPairs.contains((math.min(x, y), math.max(x, y)))
      val expectedCc = adj.map { case (v, nbrs) =>
        val ns = nbrs.toSeq.sorted
        val tri = (for {
          i <- ns.indices; j <- (i + 1) until ns.size
          if isEdge(ns(i), ns(j))
        } yield 1).size.toLong
        val d = deg(v)
        v -> ((d, tri, if (d < 2) 0L else (2000000L * tri) / (d * (d - 1))))
      }
      val gotCc = GraphAnalytics.clusteringCoefficients(und.toDF("a", "b")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(gotCc == expectedCc, s"trial $trial cc: " +
        s"missing=${expectedCc.keySet -- gotCc.keySet} diff=${gotCc.filterNot(kv => expectedCc.get(kv._1).contains(kv._2))}")

      // modularity: labels = vid % 3, brute-force Q_c per community
      val labels = adj.keys.map(v => (v, v % 3)).toSeq
      val mm = m // directed count
      val expectedQ = labels.groupBy(_._2).map { case (c, vs) =>
        val members = vs.map(_._1).toSet
        val dsum = members.toSeq.map(deg).sum
        val intra = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
          .count { case (a, b) => members.contains(a) && members.contains(b) }.toLong
        c -> ((members.size.toLong, dsum, intra,
          (intra * mm - dsum * dsum).toDouble / (mm * mm)))
      }
      val gotQ = GraphAnalytics.modularityByCommunity(labels.toDF("vid", "label"), sym)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
        .toMap
      assert(gotQ.keySet == expectedQ.keySet, s"trial $trial communities: $gotQ vs $expectedQ")
      expectedQ.foreach { case (c, (nn, ds, ic, q)) =>
        val (gn, gd, gi, gq) = gotQ(c)
        assert((gn, gd, gi) == ((nn, ds, ic)), s"trial $trial c=$c counts: ${gotQ(c)}")
        assert(math.abs(gq - q) <= 5.01e-7, s"trial $trial c=$c: $gq vs $q")
      }
    }
  }

  test("adamicAdar: hand-computed micro scores, adjacency excluded, degree cap") {
    import spark.implicits._
    // square 1-3-2-4-1 plus diagonal 3-4 plus tendril 4-5:
    // degrees: 1→2, 2→2, 3→3, 4→4, 5→1
    val pairs = Seq((1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val out = GraphAnalytics.adamicAdar(pairs, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // micro(1/ln 3) = 910239, micro(1/ln 4) = 721348
    // (1,2): common {3,4} → 910239 + 721348; (x,5): common {4} → 721348;
    // (3,4) has common {1,2} but IS an edge → excluded; deg-1 vertex 5 is
    // never a center
    assert(out == Map(
      (1L, 2L) -> ((2L, 1631587L)),
      (1L, 5L) -> ((1L, 721348L)),
      (2L, 5L) -> ((1L, 721348L)),
      (3L, 5L) -> ((1L, 721348L))), s"got $out")
    // capping degree at 3 removes vertex 4 as a center: only (1,2) via 3
    val capped = GraphAnalytics.adamicAdar(pairs, topK = 10, maxDegree = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(capped == Map((1L, 2L) -> ((1L, 910239L))), s"got $capped")
    // topK truncates in (score desc, u, v) order
    val top1 = GraphAnalytics.adamicAdar(pairs, topK = 1).collect()
    assert(top1.length == 1 && top1(0).getLong(0) == 1L && top1(0).getLong(1) == 2L)
  }

  test("adamicAdar: randomized graphs vs a driver brute-force reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 3) {
      val n = 12 + trial * 4
      val edges = (for {
        u <- 1L to n.toLong; v <- (u + 1) to n.toLong
        if rnd.nextDouble() < 0.25
      } yield (u, v)).toSeq
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      val micro = (d: Int) => math.floor(1e6 / math.log(d.toDouble) + 0.5).toLong
      val expected = (for {
        u <- adj.keys; v <- adj.keys if u < v
        if !adj(u).contains(v)
        common = adj(u).intersect(adj(v)).filter(z => adj(z).size >= 2)
        if common.nonEmpty
      } yield (u, v) -> ((common.size.toLong, common.toSeq.map(z => micro(adj(z).size)).sum)))
        .toMap
      val got = GraphAnalytics.adamicAdar(edges.toDF("a", "b"), topK = 10000)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      assert(got == expected, s"trial $trial (n=$n, ${edges.size} edges): " +
        s"missing=${expected.keySet -- got.keySet} extra=${got.keySet -- expected.keySet}")
    }
  }

  test("weighted shortest paths: min-plus beats hop count, composes with weightedEdges") {
    import spark.implicits._
    // direct 1->2 costs 10; the 2-hop detour 1->3->2 costs 2 — a BFS
    // would pick the direct edge, min-plus must not
    val e = Seq((1L, 2L, 10.0), (1L, 3L, 1.0), (3L, 2L, 1.0)).toDF("src", "dst", "weight")
    val d = GraphAnalytics.weightedShortestPathsDF(e, Seq(2L)).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(d == Map(2L -> 0.0, 1L -> 2.0, 3L -> 1.0), s"got $d")
    // the same answer through the WeightedGraph surface (weights parsed
    // from edge property JSON)
    val b = new GraphBatch
    Seq("1", "2", "3").foreach(n => b.createNode(s"n:$n", PropValue.typed("N", Some(n))))
    b.createEdge("n:1", "n:2", PropValue("Weight", Some("10")))
    b.createEdge("n:1", "n:3", PropValue("Weight", Some("1")))
    b.createEdge("n:3", "n:2", PropValue("Weight", Some("1")))
    val g2 = b.toStore(spark)
    val we = GraphAnalytics.weightedEdges(g2)
      .select(split(col("src"), ":").getItem(1).cast("long").as("src"),
        split(col("dst"), ":").getItem(1).cast("long").as("dst"), col("weight"))
    val d2 = GraphAnalytics.weightedShortestPathsDF(we, Seq(2L)).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(d2 == d, s"surface-composed $d2 vs direct $d")
  }

  test("weighted shortest paths: a negative cycle trips maxIters, never loops") {
    import spark.implicits._
    val e = Seq((1L, 2L, -1.0), (2L, 1L, -1.0)).toDF("src", "dst", "weight")
    val ex = intercept[IllegalArgumentException] {
      GraphAnalytics.weightedShortestPathsDF(e, Seq(1L), maxIters = 6)
    }
    assert(ex.getMessage.contains("negative cycle"))
  }

  test("randomized graphs: DF cc/sssp/triangles match GraphX on every seed") {
    // deterministic seeds; ~40 vertices, edge density past the
    // connectivity threshold so components, cycles and triangles all
    // occur. Catches orientation/canonicalization edge cases a
    // hand-built fixture misses (parallel edges both ways, self-loops,
    // isolated vertices).
    for (seed <- Seq(7L, 23L, 91L)) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val b = new GraphBatch
      (0 until n).foreach(i => b.createNode(s"r:$i", PropValue.typed("N", Some(i.toString))))
      val m = 70 + rnd.nextInt(30)
      (0 until m).foreach { k =>
        val u = rnd.nextInt(n); val v = rnd.nextInt(n) // self-loops allowed
        b.createEdge(s"r:$u", s"r:$v", PropValue.typed("E", Some(s"$seed-$k")))
      }
      val rg = b.toStore(spark).persistAll()
      val tl: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        id => split(id, ":").getItem(1).cast("long")
      val gxT = GraphAnalytics.triangleCount(rg, tl).collect()
        .map(r => r.getString(0) -> r.getAs[Number](1).longValue).toMap
      val dfT = GraphAnalytics.triangleCountDF(rg, tl).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(dfT == gxT, s"seed $seed triangles: df $dfT vs gx $gxT")
      val lms = Seq(0L, 1L, 2L)
      val gxS = GraphAnalytics.shortestPaths(rg, tl, lms).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val dfS = GraphAnalytics.shortestPathsDF(rg, tl, lms).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(dfS == gxS, s"seed $seed sssp diverged")
      val gxC = GraphAnalytics.connectedComponents(rg, tl).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val dfC = pipeline.ConnectedComponents.labels(
          rg.edges.select(tl(col("src")).as("a"), tl(col("dst")).as("b"))).collect()
        .map(r => "r:" + r.getLong(0) -> r.getLong(1)).toMap
      // the DF cc runs on edge-touched vertices only; compare that slice
      dfC.foreach { case (id, c) =>
        assert(gxC(id) == c, s"seed $seed cc: $id df $c vs gx ${gxC(id)}")
      }
    }
  }

  test("triangle count: every triangle member counts its triangle") {
    val tc = GraphAnalytics.triangleCount(g, toLong).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(tc("v:a") == 1 && tc("v:e") == 1 && tc("v:lone") == 0)
  }

  test("deep path graph: k-core and weighted sssp stay one job per round") {
    // A deliberately DEEP graph — a 48-node directed path — maximizes the
    // round count of both iterative operators, so any accidental
    // per-round job blowup (a probe no longer fused with the round's
    // materialization, an extra eager action in the loop) multiplies by
    // ~50 and trips the budget, as the cc/lpa/sssp pins already guard.
    import spark.implicits._
    val nPath = 48
    val pathEdges = (0 until nPath - 1).map(i => (i.toLong, i.toLong + 1))
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          jobStart: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.addSparkListener(listener)
    try {
      // k=2 peeling eats the path from both ends: 24 peel rounds + 1
      // confirming round, empty core. Budget: 1 init checkpoint + 1 fused
      // probe/materialization job per round (25) + slack for the sym
      // persist's first-touch split
      counter.set(0)
      val core = GraphAnalytics.kCore(
        pathEdges.toDF("a", "b"), k = 2, maxIters = 40).collect()
      org.apache.spark.GraftSchedulerProbe.drainListenerBus(spark.sparkContext)
      assert(core.isEmpty, s"a pure path has no 2-core, got ${core.length} rows")
      val kcoreJobs = counter.get()
      assert(kcoreJobs <= 31, s"kCore spent $kcoreJobs jobs for ~25 peel rounds " +
        "(probe no longer fused with the round materialization?)")
      // ...and a cycle closing the path peels nothing: every vertex keeps
      // degree 2, so round 1 sets the count and round 2 confirms it
      counter.set(0)
      val cycle = GraphAnalytics.kCore(
        (pathEdges :+ ((nPath - 1).toLong, 0L)).toDF("a", "b"), k = 2,
        maxIters = 5).collect()
      org.apache.spark.GraftSchedulerProbe.drainListenerBus(spark.sparkContext)
      assert(cycle.length == nPath && cycle.forall(_.getLong(1) == 2L))
      val cycleJobs = counter.get()
      assert(cycleJobs <= 8, s"kCore on the converged cycle spent $cycleJobs jobs " +
        "for 2 rounds")
      // weighted min-plus from landmark 47: distance walks back one hop
      // per round — 47 productive rounds + 1 confirming round. Budget:
      // 1 seed checkpoint + 1 fused probe job per round (48) + slack
      counter.set(0)
      val dist = GraphAnalytics.weightedShortestPathsDF(
          pathEdges.map { case (s, d) => (s, d, 1.5) }.toDF("src", "dst", "weight"),
          landmarks = Seq(nPath - 1L), maxIters = 60).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      org.apache.spark.GraftSchedulerProbe.drainListenerBus(spark.sparkContext)
      assert(dist.size == nPath) // every path vertex reaches the end
      assert(dist(0L) == (nPath - 1) * 1.5 && dist(nPath - 1L) == 0.0)
      assert(dist(24L) == (nPath - 25) * 1.5)
      val wssspJobs = counter.get()
      assert(wssspJobs <= 55, s"wsssp spent $wssspJobs jobs for ~48 rounds " +
        "(probe no longer fused with the round materialization?)")
      // louvain's local-move sweep settles the path after 2 moving rounds
      // and 2 confirming zero-move rounds, far below the 40-round cap.
      // Budget: 7 fixed (edge table, degrees, total weight, seed labels,
      // moved-anything probe, mapping, collect) + 3 per round + slack
      counter.set(0)
      GraphAnalytics.louvain((pathEdges ++ pathEdges.map(_.swap)).toDF("a", "b"),
        maxLevels = 1, maxRounds = 40).collect()
      org.apache.spark.GraftSchedulerProbe.drainListenerBus(spark.sparkContext)
      val louvainJobs = counter.get()
      assert(louvainJobs <= 23, s"louvain spent $louvainJobs jobs on a path that settles " +
        "in 4 rounds (zero-move streak no longer ends the sweep?)")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("triangulated grid: k-truss and the louvain sweep keep their per-round job budget") {
    // An 8x8 grid with one diagonal per cell: at k = 4 the boundary edges
    // (support 1) peel first and every round exposes the next layer, 9
    // rounds to an empty truss. The same grid symmetrized never reaches a
    // two-zero-move streak, so louvain's local-move sweep runs to its cap.
    import spark.implicits._
    val h = 8
    def vid(i: Int, j: Int) = (i * h + j).toLong
    val grid = for {
      i <- 0 until h; j <- 0 until h
      (ti, tj) <- Seq((i + 1, j), (i, j + 1), (i + 1, j + 1)) if ti < h && tj < h
    } yield (vid(i, j), vid(ti, tj))
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          jobStart: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    def jobsOf[T](body: => T): (T, Int) = {
      org.apache.spark.GraftSchedulerProbe.drainListenerBus(spark.sparkContext)
      counter.set(0)
      val out = body
      org.apache.spark.GraftSchedulerProbe.drainListenerBus(spark.sparkContext)
      (out, counter.get())
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.addSparkListener(listener)
    try {
      // Budget: 1 canonical-edge checkpoint + 3 per round (oriented
      // checkpoint, support checkpoint, fused count probe) x 9 + collect
      val (truss, trussJobs) = jobsOf(
        GraphAnalytics.kTruss(grid.toDF("a", "b"), k = 4, maxRounds = 20).collect())
      assert(truss.isEmpty, s"the triangulated grid has no 4-truss, got ${truss.length} rows")
      assert(trussJobs <= 33, s"kTruss spent $trussJobs jobs for 9 peel rounds " +
        "(probe no longer fused with the round materialization?)")
      // Budget: 7 fixed (as on the path graph) + 3 per sweep round (the
      // hinted total-weight broadcast, the round checkpoint and its
      // moved-count probe) x the 20-round cap
      val sym = (grid ++ grid.map(_.swap)).toDF("a", "b")
      val (capped, cappedJobs) = jobsOf(
        GraphAnalytics.louvain(sym, maxLevels = 1, maxRounds = 20).collect())
      assert(capped.length == h * h)
      assert(cappedJobs <= 71, s"louvain spent $cappedJobs jobs for a 20-round sweep")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }
}
