package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Everything here is plain in-memory Scala: the
  * same (seed, size) always yields the same rows and the same query and
  * mutation streams, byte for byte (see [[Gen.fingerprint]]), and no Spark
  * state is involved until the rows are written out. */
object Gen {

  /** Independent random stream per (seed, purpose). */
  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong * 0xC2B2AE3D27D4EB4FL)

  /** Zipf(s) sampler over ranks 0 until n, through a seeded permutation so
    * the hot keys differ between seeds. */
  final class Zipf(n: Int, s: Double, r: SplittableRandom) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    private val perm = {
      val p = Array.range(0, n)
      for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t }
      p
    }
    def next(): Int = {
      val u = r.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      perm(math.min(i, n - 1))
    }
  }

  /** SHA-256 over the canonical rendering of a row sequence. */
  def fingerprint(rows: Iterator[Product]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(r.productIterator.mkString("\u0001").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  // ---------------------------------------------------------------- TPC-H-ish

  val segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val partWords = Seq("almond", "azure", "blush", "burnished", "chartreuse", "cornflower",
    "drab", "firebrick", "ghost", "honeydew", "ivory", "khaki", "lavender", "linen", "misty",
    "navy", "orchid", "peru", "rosy", "sienna", "tan", "thistle", "wheat")

  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                            c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String, p_size: Int,
                        p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                         o_totalprice: Double, o_orderpriority: String)

  /** A TPC-H-shaped star: `customers` customers, ten orders per customer on
    * average (Zipf-skewed, so a few customers hold many orders), 4/3 parts
    * and 1/15 suppliers per customer, 25 nations over 5 regions. */
  final case class Tpch(regions: Seq[Region], nations: Seq[Nation], customers: Seq[Customer],
                        suppliers: Seq[Supplier], parts: Seq[Part], orders: Seq[Order]) {
    def tables: Seq[(String, Seq[Product])] = Seq(
      "region" -> regions, "nation" -> nations, "customer" -> customers,
      "supplier" -> suppliers, "part" -> parts, "orders" -> orders)
    def fingerprint: String = Gen.fingerprint(tables.iterator.flatMap(_._2))
  }

  def tpch(seed: Long, customers: Int): Tpch = {
    val r = rng(seed, "tpch")
    def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    val regions = (0 until 5).map(k => Region(k, s"REGION_$k"))
    // every region keeps at least one nation; the rest are placed at random
    val nations = (0 until 25).map(k => Nation(k, s"NATION_$k", if (k < 5) k else r.nextInt(5)))
    val cust = (0 until customers).map { k =>
      Customer(k.toLong, f"Customer#$k%09d", r.nextInt(25), money(-999, 9999),
        segments(r.nextInt(segments.size)))
    }
    val nSupp = math.max(25, customers / 15)
    val supp = (0 until nSupp).map { k =>
      Supplier(k.toLong, f"Supplier#$k%09d", r.nextInt(25), money(-999, 9999))
    }
    val nPart = customers * 4 / 3
    val parts = (0 until nPart).map { k =>
      Part(k.toLong, Seq.fill(3)(partWords(r.nextInt(partWords.size))).mkString(" "),
        s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}", 1 + r.nextInt(50), money(900, 2000))
    }
    val owner = new Zipf(customers, 0.6, r)
    val orders = (0 until customers * 10).map { k =>
      Order(k.toLong, owner.next().toLong, if (r.nextBoolean()) "O" else "F",
        money(800, 500000), priorities(r.nextInt(priorities.size)))
    }
    Tpch(regions, nations, cust, supp, parts, orders)
  }

  // ------------------------------------------------------------ Zoe queries

  /** The six query classes of the serving mix, with their weights. */
  val classes: Seq[(String, Int)] = Seq(
    "point" -> 40, "hop" -> 20, "chain" -> 15, "algebra" -> 10, "paths" -> 10, "range" -> 5)
  val algebraOps: Seq[String] = Seq("Union", "Intersect", "Substract", "DisjunctiveUnion")

  /** The class of every query slot, a fixed cycle of 20 that interleaves the
    * classes by weight: any window of the stream has the same mix whatever
    * the seed, which varies only the parameters. */
  val schedule: IndexedSeq[String] = {
    val total = classes.map(_._2).sum
    val slots = classes.flatMap { case (c, w) =>
      val k = w * 20 / total
      (0 until k).map(j => ((j + 0.5) / k, c))
    }
    slots.sortBy(_._1).map(_._2).toIndexedSeq
  }

  /** One generated query: its class, its wire JSON, and the parameters the
    * relational twin needs to compute the expected answer. */
  final case class Query(cls: String, json: String, params: Seq[String])

  /** Schema-type key every `Customer` vertex property nests. */
  val customerTypeHash: String = graft.model.PropValue.schemaType("Customer").hash

  private def spec(id: String) = s"""{"Specific":["$id"]}"""
  /** Source vertices of the edges arriving at `v` (one hop backwards). */
  private def back(v: String) = s"""{"In":{"In":$v}}"""
  private def pair(op: String, a: String, b: String) = s"""{"$op":[$a,$b]}"""

  def queries(seed: Long, n: Int, t: Tpch, salt: String = "queries"): IndexedSeq[Query] = {
    val r = rng(seed, salt)
    val cust = new Zipf(t.customers.size, 1.0, r)
    val nat = new Zipf(t.nations.size, 0.8, r)
    val reg = new Zipf(t.regions.size, 0.5, r)
    val seg = new Zipf(segments.size, 0.5, r)
    val size = new Zipf(50, 0.8, r)
    (0 until n).map { i =>
      val cls = schedule(i % schedule.size)
      cls match {
        case "point" =>
          val c = cust.next()
          Query(cls, s"""{"V":${back(spec(s"customer:$c"))}}""", Seq(c.toString))
        case "hop" =>
          val k = nat.next()
          Query(cls, s"""{"V":${back(spec(s"nation:$k"))}}""", Seq(k.toString))
        case "chain" =>
          val k = reg.next()
          val customers = s"""{"Property":{"ReferencingProperties":{"Specific":"$customerTypeHash"}}}"""
          Query(cls, s"""{"V":${pair("Intersect", back(back(spec(s"region:$k"))), customers)}}""",
            Seq(k.toString))
        case "algebra" =>
          val op = algebraOps(r.nextInt(algebraOps.size))
          val s = segments(seg.next())
          val k = nat.next()
          Query(cls, s"""{"V":${pair(op, back(spec(s"segment:$s")), back(spec(s"nation:$k")))}}""",
            Seq(op, s, k.toString))
        case "paths" =>
          val k = reg.next()
          Query(cls, s"""{"V":${back(back(spec(s"region:$k")))}}""", Seq(k.toString))
        case "range" =>
          val lo = 1 + size.next()
          val hi = math.min(50, lo + r.nextInt(3))
          Query(cls, f"""{"V":{"Property":{"FromTo":["psz_$lo%03d_","psz_$hi%03d_~"]}}}""",
            Seq(lo.toString, hi.toString))
      }
    }
  }

  // ------------------------------------------------------------ mutations

  /** One commit's worth of writes against the TPC-H graph:
    *  - `nodes`: (id, item name) — new `Item` vertices, typed so their
    *    property nests SchemaType("Item");
    *  - `edges`: (src item, dst existing customer) — `Buys` edges;
    *  - `deleteNodes` / `deleteEdges`: items the previous commit inserted
    *    (with their edges) that this commit removes. */
  final case class Commit(index: Int, nodes: Seq[(String, String)], edges: Seq[(String, String)],
                          deleteNodes: Seq[String], deleteEdges: Seq[(String, String)])

  /** The commit stream: every commit inserts `perCommit` items, each with
    * one or two purchase edges, and deletes half of the items (and all of
    * their edges) that the previous commit inserted. */
  def commits(seed: Long, n: Int, perCommit: Int, customers: Int): IndexedSeq[Commit] = {
    val r = rng(seed, "commits")
    val buyer = new Zipf(customers, 0.8, r)
    val made = scala.collection.mutable.ArrayBuffer[Commit]()
    for (i <- 0 until n) {
      val nodes = (0 until perCommit).map { j =>
        (s"item:$seed-$i-$j", s"item ${r.nextLong() & 0xFFFFFFFFL} of commit $i")
      }
      val edges = nodes.flatMap { case (id, _) =>
        Seq.fill(1 + r.nextInt(2))(buyer.next()).distinct.map(c => (id, s"customer:$c"))
      }
      val (delNodes, delEdges) =
        if (i == 0) (Nil, Nil)
        else {
          val old = made(i - 1)
          val gone = old.nodes.map(_._1).filter(_ => r.nextBoolean()).toSet
          (old.nodes.map(_._1).filter(gone), old.edges.filter(e => gone(e._1)))
        }
      made += Commit(i, nodes, edges, delNodes, delEdges)
    }
    made.toIndexedSeq
  }

  // ------------------------------------------------------------ batch graph

  /** R-MAT edge list over 2^scale vertices (a, b, c = 0.57, 0.19, 0.19):
    * skewed degrees, a few hubs. Self-loops and repeats are dropped, so the
    * result is a simple directed graph with `(src, dst)` distinct. */
  def rmat(seed: Long, scale: Int, edgeFactor: Int): IndexedSeq[(Long, Long)] = {
    val r = rng(seed, "rmat")
    val seen = new java.util.HashSet[(Long, Long)]()
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    for (_ <- 0 until (edgeFactor << scale)) {
      var s = 0L; var d = 0L
      for (_ <- 0 until scale) {
        val u = r.nextDouble()
        val (bs, bd) = if (u < 0.57) (0, 0) else if (u < 0.76) (0, 1) else if (u < 0.95) (1, 0) else (1, 1)
        s = (s << 1) | bs; d = (d << 1) | bd
      }
      if (s != d && seen.add((s, d))) out += ((s, d))
    }
    out.toIndexedSeq
  }

  private val docWords = Seq("spark", "graph", "query", "vertex", "edge", "join", "scan", "sort",
    "hash", "table", "window", "stream", "batch", "filter", "group", "merge", "data", "row",
    "column", "order", "part", "line", "key", "value", "fast", "slow", "big", "small", "agg",
    "index", "page", "rank", "path", "hop", "label", "cluster", "shard", "cache", "plan", "stage",
    "task", "shuffle", "spill", "codegen", "parquet", "schema", "record", "buffer", "block", "commit")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** `n` random documents plus `planted` near-duplicates: each planted copy
    * repeats an earlier document with one word replaced, and is listed in
    * the returned pairs as (original id, copy id). */
  def documents(seed: Long, n: Int, planted: Int): (IndexedSeq[Doc], Seq[(Long, Long)]) = {
    val r = rng(seed, "documents")
    val base = (0 until n).map { k =>
      val words = Seq.fill(30 + r.nextInt(40))(docWords(r.nextInt(docWords.size)))
      words.toIndexedSeq
    }
    val pairs = (0 until planted).map(j => (r.nextInt(n).toLong, (n + j).toLong))
    val copies = pairs.map { case (orig, _) =>
      val w = base(orig.toInt)
      w.updated(r.nextInt(w.size), "edited")
    }
    val docs = (base ++ copies).zipWithIndex.map { case (w, k) =>
      val text = w.mkString(" ")
      Doc(k.toLong, text, if (k % 3 == 0) "de" else "en", s"src${k % 7}", text.length.toLong)
    }
    (docs, pairs)
  }
}
