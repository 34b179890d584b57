package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  val sfDir = "/root/testdata/sf0.001"
  def tables: graft.sources.Tables = graft.sources.Tables(spark, sfDir)
}
