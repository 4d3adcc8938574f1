package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Build an M×-replicated copy of a source sf directory (default: 10× of
  * sf0.1 ≈ sf1) for the SUITE-level scaling leg — the full-bench twin of
  * [[ScaleSlope]]'s operator-level probes. Usage:
  *
  *   runMain graft.tools.MakeScaled [m] [srcDir] [outDir]
  *
  * Replication contract (same rationale as ScaleSlope):
  *   - every id column shifts by ONE shared constant per copy
  *     (copy i → +i·10⁹), so any cross-table id relationship
  *     (order→lineitem, doc→vec) is preserved within each copy and id
  *     ranges never collide across copies;
  *   - dimension leaves (region, nation) are NOT multiplied — their keys
  *     are referenced by every copy, exactly like a real warehouse where
  *     dims grow far slower than facts;
  *   - document tokens in copies 1..M-1 are tagged `_i` (a bijection on
  *     the vocabulary): within-copy dup/posting structure is preserved
  *     exactly while cross-copy Jaccard is 0 — an untagged replica would
  *     give every doc M-1 identical twins and benchmark a pathological
  *     dup structure, not the suite's slope. Copy 0 is the identity, so
  *     every fixture term/centroid/query id the bench uses still exists
  *     with its original statistics;
  *   - embeddings in copies 1..M-1 are deterministically perturbed
  *     (+0.0011·i per component) — distinct vectors with realistic
  *     near-dup geometry instead of exact 9-way ties.
  */
object MakeScaled {
  def main(args: Array[String]): Unit = {
    val m = args.headOption.map(_.toInt).getOrElse(10)
    val src = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(2).getOrElse("target/sf1")
    val spark = graft.SparkEntry.localSession("graft-make-scaled")

    val Shift = 1000000000L // > any sf0.1 id; one constant for ALL tables

    val idCols: Map[String, Seq[String]] = Map(
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))

    for (table <- Tables.names) {
      val df =
        if (table == "events") Tables.events(spark, src)
        else Tables(spark, src, table)
      val replicated =
        if (!idCols.contains(table)) df // dimension leaf: as-is
        else (0 until m).map { i =>
          val shifted = idCols(table).foldLeft(df)((d, c) =>
            d.withColumn(c, col(c) + lit(i * Shift)))
          val tagged =
            if (i > 0 && shifted.columns.contains("text"))
              shifted.withColumn("text", concat_ws(" ",
                transform(split(col("text"), " "),
                  tk => concat(tk, lit(s"_$i")))))
            else shifted
          if (i > 0 && tagged.columns.contains("embedding"))
            tagged.withColumn("embedding",
              transform(col("embedding"), x => x + lit(0.0011f * i)))
          else tagged
        }.reduce(_ unionByName _)
      replicated.write.mode(SaveMode.Overwrite)
        .parquet(s"$out/$table.parquet")
      println(s"MAKESCALED $table -> $out (${m}x)")
    }
    spark.stop()
  }
}
