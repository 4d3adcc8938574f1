package graft

import graft.graph.Graph

/** Hand-computed fixtures for the link-graph centrality operators.
  * Oracle parity at sf scale is covered by the g1/g2 driver rows. */
class GraphSpec extends SparkSpec {

  private def edgesOf(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toDF("src", "dst")
  }

  test("pageRank: one iteration with a dangling node matches the formula") {
    // 1 -> 2 only: node 2 is dangling (no out-edges), N = 2, d = 0.85.
    // r0 = 1/2 each; D0 = r0(2) = 0.5.
    // r1(1) = (1-d)/2 + d*(0 + 0.5/2);  r1(2) = (1-d)/2 + d*(0.5 + 0.5/2).
    val out = Graph.pageRank(edgesOf(1L -> 2L), "src", "dst", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def expect(contrib: Double): Double = {
      val r12 = BigDecimal((1.0 - 0.85) / 2.0 + 0.85 * (contrib + 0.5 / 2.0))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      r12.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out == Map(1L -> expect(0.0), 2L -> expect(0.5)), out)
    assert(math.abs(out.values.sum - 1.0) < 1e-9, "rank mass must be conserved")
  }

  test("pageRank: uniform ring is a fixpoint; mass sums to 1 on asymmetric graphs") {
    // 1->2->3->1: every node has outdeg 1 and one inbound edge — rank
    // stays exactly 1/3 through every iteration.
    val ring = Graph.pageRank(edgesOf(1L -> 2L, 2L -> 3L, 3L -> 1L), "src", "dst")
      .collect().map(_.getDouble(1)).toSeq
    assert(ring == Seq(0.333333, 0.333333, 0.333333), ring)

    // star + tail: hub 1 referenced by 2,3,4; 4 also points at 2.
    val star = Graph.pageRank(
      edgesOf(2L -> 1L, 3L -> 1L, 4L -> 1L, 4L -> 2L, 1L -> 3L), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(star.values.sum - 1.0) < 1e-5, star)
    assert(star(1L) > star(3L) && star(3L) > star(4L),
      s"hub must outrank spokes: $star")
  }

  test("pageRank: barrier modes produce identical ranks") {
    val edges = edgesOf(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 1L, 2L -> 4L)
    def run() = Graph.pageRank(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val local = run()
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    spark.conf.set(graft.dedup.Dedup.BarrierModeKey, "reliable")
    try assert(run() == local)
    finally spark.conf.unset(graft.dedup.Dedup.BarrierModeKey)
  }

  test("degrees: in/out/total per node") {
    val out = Graph.degrees(edgesOf(1L -> 2L, 1L -> 3L, 2L -> 3L), "src", "dst")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(
      1L -> ((2L, 0L, 2L)),
      2L -> ((1L, 1L, 2L)),
      3L -> ((0L, 2L, 2L))), out)
  }

  test("triangleCounts: each triangle counted once per member, wedge-only nodes score 0") {
    // K3 {1,2,3} + pendant 4 on node 3 + disconnected edge 5-6:
    // nodes 1,2,3 sit in one triangle each; 4,5,6 in none.
    val pairs = edgesOf(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 4L, 5L -> 6L)
      .toDF("id_a", "id_b")
    val out = Graph.triangleCounts(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(
      1L -> ((2L, 1L)), 2L -> ((2L, 1L)), 3L -> ((3L, 1L)),
      4L -> ((1L, 0L)), 5L -> ((1L, 0L)), 6L -> ((1L, 0L))), out)
  }

  test("triangleCounts: K4 has 4 triangles, 3 per node; result is " +
    "orientation-invariant under input pair order") {
    val k4 = for {
      a <- 1L to 4L; b <- (a + 1) to 4L
    } yield (a, b)
    val out = Graph.triangleCounts(
      edgesOf(k4: _*).toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), out)
    // global count = sum/3 = 4
    assert(out.values.sum == 12L)
  }
}
