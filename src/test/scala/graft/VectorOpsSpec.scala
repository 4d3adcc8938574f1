package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.tables.Tables

class VectorOpsSpec extends SparkSpec {

  test("codegen cosine matches the higher-order-function reference impl") {
    val emb = Tables.embeddings(spark, Sf0001).limit(100)
    val q = Tables.embeddings(spark, Sf0001)
      .where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val both = emb.crossJoin(broadcast(q)).select(
      VectorOps.cosineSim(col("embedding"), col("qvec")).as("expr"),
      VectorOps.cosineSimHof(col("embedding"), col("qvec")).as("hof"))
    val rows = both.collect()
    assert(rows.length == 100)
    rows.foreach { case Row(e: Double, h: Double) =>
      assert(math.abs(e - h) < 1e-12, s"expr=$e hof=$h")
    }
  }

  test("cosine of identical vectors is 1, orthogonal is 0, zero vector is 0") {
    import spark.implicits._
    val df = Seq(
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f), 1.0),
      (Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(0f, 0f), Array(1f, 2f), 0.0) // embed-failure fallback scores 0, not NaN
    ).toDF("a", "b", "want")
    df.select(VectorOps.cosineSim(col("a"), col("b")).as("got"), col("want"))
      .collect().foreach { case Row(got: Double, want: Double) =>
        assert(math.abs(got - want) < 1e-9)
      }
  }

  test("mismatched dimensions yield null, not a silent prefix score") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
    val r = df.select(
      VectorOps.cosineSim(col("a"), col("b")).as("c"),
      VectorOps.dot(col("a"), col("b")).as("d")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("dot product") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
    val r = df.select(VectorOps.dot(col("a"), col("b")).as("d")).head()
    assert(r.getDouble(0) == 32.0)
  }

  test("jlProject: basis vector reads out one sign-matrix column; signs are ±1 md5 parity") {
    import spark.implicits._
    // e_i projected by the ±1 matrix gives proj[j] = S[j][i]; recompute
    // the expected signs with an independent inline md5-parity impl.
    def sign(idx: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(idx.toString.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }
    val inDim = 8; val outDim = 4; val hot = 3
    val e3 = Array.tabulate(inDim)(i => if (i == hot) 1f else 0f)
    val out = Seq(Tuple1(e3)).toDF("v")
      .select(VectorOps.jlProject(col("v"), outDim, inDim).as("p"))
      .head().getSeq[Double](0)
    val want = (0 until outDim).map(j => sign(j * inDim + hot))
    assert(out == want, s"$out vs $want")
    // and a two-hot vector sums the two columns
    val v2 = Array.tabulate(inDim)(i => if (i == 1 || i == 6) 2f else 0f)
    val out2 = Seq(Tuple1(v2)).toDF("v")
      .select(VectorOps.jlProject(col("v"), outDim, inDim).as("p"))
      .head().getSeq[Double](0)
    val want2 = (0 until outDim).map(j => 2.0 * sign(j * inDim + 1) + 2.0 * sign(j * inDim + 6))
    assert(out2 == want2, s"$out2 vs $want2")
  }

  test("seek-walk driver ordering matches Spark's (score desc, id asc) on NaN, -0.0 and ties") {
    // r14 ADVICE: Scala's sortBy on a NEGATED double diverges from Spark
    // SQL's desc ordering exactly on the degenerate values — Spark sorts
    // NaN as the largest (FIRST on desc) and treats -0.0 == 0.0 — which
    // would break the seek walks' pinned row-identity with the
    // declarative walks at the beam/k cuts. Pin the driver comparator
    // against Spark's own sort of the same rows.
    import spark.implicits._
    val rows: Seq[(Long, Double)] = Seq(
      1L -> 0.7, 2L -> Double.NaN, 3L -> -0.0, 4L -> 0.0, 5L -> -0.3,
      6L -> Double.NaN, 7L -> 0.7, 8L -> Double.PositiveInfinity,
      9L -> Double.NegativeInfinity, 10L -> 0.0)
    val sparkOrder = rows.toDF("id", "score")
      .orderBy(col("score").desc, col("id").asc)
      .collect().map(_.getLong(0)).toSeq
    val driverOrder = rows.sorted(graft.search.Ann.idScoreDescIdAsc).map(_._1)
    assert(driverOrder == sparkOrder,
      s"driver=$driverOrder spark=$sparkOrder")
    // and the negated-key sort it replaced really does diverge here
    val negated = rows.sortBy { case (id, s) => (-s, id) }.map(_._1)
    assert(negated != sparkOrder, "fixture must exercise the divergence")
  }
}
