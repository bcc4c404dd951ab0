package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Pins Graph.pageRank semantics: the damped update, weighted edge
  * split, dangling-mass drop, teleport floor for sources, and physical-
  * layout invariance of the quantized arithmetic. */
class GraphSpec extends SparkSpecBase {
  import spark.implicits._

  private def ranks(edges: Seq[(String, String, Long)], iters: Int = 3) =
    Graph.pageRank(edges.toDF("src", "dst", "w"), damping = 0.85, iters)
      .collect().map(r => r.getAs[String]("id") -> r.getAs[Double]("rank"))
      .toMap

  test("two-node cycle converges to the uniform fixed point exactly") {
    // a->b, b->a, equal weights: r = 0.85*r + 0.15*(1/2) has fixed point
    // 0.5 for both; starting AT the fixed point, every iterate stays 0.5
    // up to the 1e-15 quantization
    val m = ranks(Seq(("a", "b", 1L), ("b", "a", 1L)))
    assert(m.keySet === Set("a", "b"))
    assert(math.abs(m("a") - 0.5) < 1e-12)
    assert(math.abs(m("b") - 0.5) < 1e-12)
  }

  test("a sink hub accumulates rank; a pure source keeps only the teleport floor") {
    // star: a,b,c all point at hub h; nobody points back
    val m = ranks(Seq(("a", "h", 1L), ("b", "h", 1L), ("c", "h", 1L)))
    val teleport = 0.15 * (1.0 / 4)
    assert(math.abs(m("a") - teleport) < 1e-12) // no in-edges at all
    assert(m("h") > 3 * m("a")) // the hub dominates
    // h is dangling: its mass is DROPPED (documented), so the total is < 1
    // (3 sources at 0.0375 + hub at 0.85*3*0.0375+0.0375 = 0.245625)
    val total = m.values.sum
    assert(total < 1.0 && total > 0.2)
  }

  test("edge weights split a node's rank proportionally") {
    // s sends 3/4 of its mass to a, 1/4 to b; a and b have no other
    // in-edges, so after one iteration rank(a)-teleport = 3*(rank(b)-teleport)
    val one = Graph.pageRank(
      Seq(("s", "a", 3L), ("s", "b", 1L)).toDF("src", "dst", "w"),
      damping = 0.85, iters = 1)
      .collect().map(r => r.getAs[String]("id") -> r.getAs[Double]("rank")).toMap
    val teleport = 0.15 * (1.0 / 3)
    val ca = one("a") - teleport
    val cb = one("b") - teleport
    assert(math.abs(ca - 3 * cb) < 1e-12)
  }

  test("quantized arithmetic is invariant to physical partitioning") {
    val edges = (1L to 200L).map(i =>
      (s"n${i % 17}", s"n${(i * 7) % 17}", 1L + i % 5))
    val a = ranks(edges)
    val b = Graph.pageRank(
      edges.toDF("src", "dst", "w").repartition(13), damping = 0.85, iters = 3)
      .collect().map(r => r.getAs[String]("id") -> r.getAs[Double]("rank")).toMap
    assert(a === b) // bitwise, not approximately
  }

  test("guards: empty edges, bad damping, bad iters fail loud") {
    val e = Seq(("a", "b", 1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      Graph.pageRank(e.filter(lit(false)), 0.85, 3)
    }
    intercept[IllegalArgumentException] { Graph.pageRank(e, 1.0, 3) }
    intercept[IllegalArgumentException] { Graph.pageRank(e, 0.85, 0) }
  }

  private def triMap(edges: Seq[(Long, Long)]) =
    Graph.triangles(edges.toDF("src", "dst"))
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("degree"), r.getAs[Long]("triangles"),
          Option(r.getAs[Any]("lcc")).map(_.asInstanceOf[Double]))))
      .toMap

  test("triangles: K4 — every node in 3 triangles, lcc exactly 1") {
    val k4 = for { i <- 1L to 4L; j <- (i + 1) to 4L } yield (i, j)
    val m = triMap(k4)
    assert(m.keySet === Set(1L, 2L, 3L, 4L))
    m.values.foreach { case (deg, tri, lcc) =>
      assert(deg === 3L && tri === 3L && lcc === Some(1.0))
    }
  }

  test("triangles: path graph has none; lcc is 0 for interior, NULL for leaves") {
    val m = triMap(Seq((1L, 2L), (2L, 3L)))
    assert(m(2L) === ((2L, 0L, Some(0.0))))
    assert(m(1L) === ((1L, 0L, None))) // degree 1: coefficient undefined
    assert(m(3L) === ((1L, 0L, None)))
  }

  test("triangles: two triangles sharing an edge count per corner") {
    // abc and abd share edge (a,b): a,b in 2 triangles; c,d in 1
    val m = triMap(Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)))
    assert(m(1L)._2 === 2L && m(2L)._2 === 2L)
    assert(m(3L)._2 === 1L && m(4L)._2 === 1L)
    // lcc(a) = 2·2/(3·2) = 2/3 — one exactly-rounded division
    assert(m(1L)._3 === Some(2.0 / 3.0))
  }

  test("personalizedPageRank: teleport mass restarts at the sources only") {
    // chain s -> a -> b; PPR from s: r0 = (1,0,0)
    // r1: a gets 0.85·1, s keeps teleport 0.15, b gets 0
    val edges = Seq(("s", "a", 1L), ("a", "b", 1L)).toDF("src", "dst", "w")
    val one = Graph.personalizedPageRank(edges, Seq("s").toDF("id"),
      damping = 0.85, iters = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(one("s") === (1.0 - 0.85) * 1.0)
    assert(one("a") === 0.85 * 1.0)
    assert(one("b") === 0.0)
    // two iterations push mass to b; a non-source far node still gets
    // NO teleport floor (unlike uniform pageRank)
    val two = Graph.personalizedPageRank(edges, Seq("s").toDF("id"),
      damping = 0.85, iters = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(two("b") > 0.0 && two("s") === (1.0 - 0.85) * 1.0)
    // unknown source fails loud
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edges, Seq("zz").toDF("id"), 0.85, 1)
    }
  }

  test("triangles: differential vs brute-force enumeration, layout-invariant") {
    // deterministic pseudo-random graph, canonicalized src < dst distinct
    val raw = (1 to 300).map(i => ((i * 7L) % 23L, (i * i * 5L) % 23L))
    val edges = raw.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.distinct
    val es = edges.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val brute = nodes.map { v =>
      val nbrs = nodes.filter(u => es((math.min(u, v), math.max(u, v))))
      val tri = (for {
        a <- nbrs; b <- nbrs if a < b && es((math.min(a, b), math.max(a, b)))
      } yield 1).size
      v -> ((nbrs.size.toLong, tri.toLong))
    }.toMap
    val m = triMap(edges)
    assert(m.view.mapValues(v => (v._1, v._2)).toMap === brute)
    val repart = Graph.triangles(edges.toDF("src", "dst").repartition(7))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(repart.toSeq ===
      m.toSeq.map { case (k, v) => (k, v._1, v._2) }.sortBy(_._1))
  }

  test("reliable checkpointing: identical results with a checkpoint dir set, and checkpoint files actually written") {
    import graft.operators.Dedup
    val prEdges = (1 to 120).map(i =>
      (s"n${(i * 7) % 17}", s"n${(i * 11) % 17}", (i % 3 + 1).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst", "w")
    val ccEdges = (1 to 150).map(i => ((i * 13L) % 40L, (i * 29L) % 40L))
      .filter(e => e._1 != e._2).toDF("doc_a", "doc_b")
    val bfsEdges = prEdges.select(col("src"), col("dst"))
    val srcs = Seq("n1").toDF("id")
    def prOut() = Graph.pageRank(prEdges, 0.85, iters = 12)
      .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
    // both exits: the driver finish (the default session) and the star
    // rounds (no broadcast bound), which must agree
    def ccOut() = {
      def run() = Dedup.connectedComponents(ccEdges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      val driver = run()
      assert(withSessionConf("spark.sql.autoBroadcastJoinThreshold", "-1")(run()) ===
        driver, "connectedComponents: driver finish and star rounds disagree")
      driver
    }
    def bfsOut() = Graph.bfsDistances(bfsEdges, srcs, maxHops = 6)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val (prL, ccL, bfsL) = (prOut(), ccOut(), bfsOut())
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      assert(prOut() === prL, "pageRank diverged under reliable checkpointing")
      assert(ccOut() === ccL, "connectedComponents diverged under reliable checkpointing")
      assert(bfsOut() === bfsL, "bfsDistances diverged under reliable checkpointing")
      // the reliable path ENGAGED: checkpoint data landed in the dir
      // (df.checkpoint writes rdd-<id> subdirs under a random subdir)
      def countFiles(d: java.nio.file.Path): Long = {
        val st = java.nio.file.Files.walk(d)
        try st.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally st.close()
      }
      assert(countFiles(dir) > 0,
        "checkpoint dir untouched - the reliable mode never engaged")
    } finally spark.sparkContext.setCheckpointDir(null)
  }
}