package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, SURVEY.md §5).
  *
  * Convention: parquet dirs read through [[graft.Tables]] are IMMUTABLE
  * for the life of a session — the table readers are memoized with their
  * file-index snapshot. A spec that rewrites a parquet dir it already
  * read must call `Tables.invalidate(spark, path)` (or write to a fresh
  * temp dir, the usual pattern here) before reading the path again.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}
