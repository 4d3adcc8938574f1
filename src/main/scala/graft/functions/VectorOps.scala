package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, CosineSimilarity, DotProduct, L2Distance}

/** Column-level vector functions (reference §2.9: V4 cosine, V5 dot).
  *
  * The codegen'd Catalyst expressions are the hot path; everything stays
  * inside whole-stage codegen (no UDF serialization boundary).
  */
object VectorOps {

  /** Cosine similarity in [-1, 1]; 0.0 for zero vectors (reference returns
    * a zero vector on embed failure, `app/services/search_service.py:134-136`,
    * which must score 0, not NaN). */
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a.cast("array<float>")),
      ColumnBridge.expression(b.cast("array<float>"))))

  /** Dense dot product (double accumulation). */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a.cast("array<float>")),
      ColumnBridge.expression(b.cast("array<float>"))))

  /** Euclidean distance over two ARRAY<DOUBLE> columns — bit-identical to
    * MLlib's `sqrt(Vectors.sqdist)` and to the interpreted
    * `sqrt(aggregate(zip_with(a,b,(x,y)=>(x-y)*(x-y)), 0.0, +))` form
    * (same ascending-index single-accumulator order), but codegen'd. */
  def l2Dist(a: Column, b: Column): Column =
    ColumnBridge.column(L2Distance(
      ColumnBridge.expression(a.cast("array<double>")),
      ColumnBridge.expression(b.cast("array<double>"))))

  /** O5: symmetric int8 quantization (reference's scalar quantization,
    * `scripts/indexing.py:283-300`): scale = max|x|/127, q_i = round(x_i /
    * scale). Stored as a struct so the scale travels with the codes —
    * ARRAY<TINYINT>-class storage is a 4× memory cut for a RAM-resident
    * vector corpus. */
  def quantizeInt8(v: Column): Column =
    // Both the cast vector and the scale are let-bound through
    // single-element-array transforms: HOF lambdas are interpreted with no
    // CSE, so a free-variable `scale` inside the quantize lambda would
    // re-run the array_max reduction for EVERY component — O(d^2) per row.
    element_at(transform(array(v.cast("array<double>")), vd =>
      element_at(transform(
        array(greatest(array_max(transform(vd, x => abs(x))), lit(1e-30)) / 127.0),
        scale => struct(scale.as("scale"),
          transform(vd, x => round(x / scale).cast("long")).as("q"))), 1)), 1)

  /** Cosine over int8-quantized codes. The per-vector scale cancels in
    * cosine, so this is exact integer dot/norm arithmetic — deterministic
    * in any engine — and needs no dequantization. */
  def cosineSimInt8(qa: Column, qb: Column): Column = {
    val dotp = aggregate(zip_with(qa, qb, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    val na = aggregate(qa, lit(0L), (acc, v) => acc + v * v)
    val nb = aggregate(qb, lit(0L), (acc, v) => acc + v * v)
    when(na === 0L || nb === 0L, lit(0.0))
      .otherwise(dotp.cast("double") /
        (sqrt(na.cast("double")) * sqrt(nb.cast("double"))))
  }

  /** O5 binary quantization: sign-bit signature of 32 consecutive vector
    * dims starting at `offset` (bit i set iff component > 0). Two 32-bit
    * halves cover a 64-dim vector without ever summing near 2^63 — safe
    * integer arithmetic in any engine. Hamming distance between
    * signatures approximates angular distance at 1 bit/dim: 32× smaller
    * than float and XOR-speed to compare. */
  def binarySignature32(v: Column, offset: Int): Column = {
    val powers = typedlit((0 until 32).map(i => 1L << i))
    aggregate(
      zip_with(slice(v.cast("array<double>"), offset + 1, 32), powers,
        (x, p) => when(x > 0.0, p).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc + b)
  }

  /** Cosine via built-in higher-order functions only — the reference
    * implementation used by tests to cross-check the codegen expression. */
  def cosineSimHof(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>"); val bd = b.cast("array<double>")
    val dotp = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val na = aggregate(ad, lit(0.0), (acc, v) => acc + v * v)
    val nb = aggregate(bd, lit(0.0), (acc, v) => acc + v * v)
    when(na === 0.0 || nb === 0.0, lit(0.0))
      .otherwise(dotp / (sqrt(na) * sqrt(nb)))
  }

  /** Deterministic ±1 entry of the JL sign matrix at flat index `idx`:
    * parity of the first 32 md5 bits of the decimal index string. Engine-
    * independent — DuckDB spells the same cell
    * `('0x' || substr(md5(idx::VARCHAR), 1, 8))::BIGINT % 2`. */
  private def jlSign(idx: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(idx.toString.getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
  }

  /** O5 companion — Johnson-Lindenstrauss sign random projection
    * (Achlioptas 2001: a ±1 matrix satisfies the JL lemma; same family
    * as Charikar's SimHash hyperplanes): project `inDim` floats down to
    * `outDim` coordinates, proj[j] = Σᵢ v[i]·S[j][i] with S the
    * deterministic [[jlSign]] matrix. Distances are preserved within
    * 1±ε, so a projected-space candidate scan + exact re-rank is a
    * recall-bounded ANN path that reads `outDim/inDim` of the float math
    * per row (the dimension-reduction axis, orthogonal to int8/binary/PQ
    * value compression).
    *
    * The matrix is built on the DRIVER (outDim×inDim literal, a few KB —
    * a plan constant, never a join side) and the input vector is
    * let-bound (HOF-CSE rule); the fold runs in index order, double
    * accumulation, so any engine reproduces the exact bits. Per row this
    * is a pure map: no shuffle at any scale. */
  def jlProject(v: Column, outDim: Int, inDim: Int): Column = {
    val m: Seq[Seq[Double]] = (0 until outDim).map { j =>
      (0 until inDim).map(i => jlSign(j * inDim + i))
    }
    element_at(transform(array(v.cast("array<double>")), vv =>
      transform(typedLit(m), row =>
        aggregate(zip_with(vv, row, (x, s) => x * s), lit(0.0), (a, x) => a + x))), 1)
  }
}
