package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for every suite (session startup dominates
  * test wall-clock otherwise): the factory's confs, with a tiny shuffle
  * width to keep plans fast on test-sized data. */
object TestSpark {
  lazy val spark: SparkSession = Session(
    "spark.master" -> "local[2]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.warehouse.dir" -> "/tmp/graft_test_warehouse")
}

/** Base: FunSuite + the shared session + tiny helpers. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import org.apache.spark.sql.Row

  def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
