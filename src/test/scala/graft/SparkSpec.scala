package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val Sf0001 = "/root/testdata/sf0.001"

  /** Root paths of every file scan in `df`'s physical plan. Checks on
    * which files a plan reads go through these, not the plan string:
    * the string truncates each scan's Location, so an index path that
    * fits from a short checkout is cut off from a longer one. */
  def scanRoots(df: DataFrame): Seq[String] =
    SparkSpec.Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanLike => s.relation.location.rootPaths.map(_.toString)
    }.flatten
}

object SparkSpec {
  private object Plans extends AdaptiveSparkPlanHelper

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
