package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs: the harness session (`GraftSession`) at four
  * cores, so every spec runs with graft's SQL functions and optimizer rule
  * registered, whichever spec runs first. */
trait SparkSpecBase { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfSmoke = "/root/testdata/sf0.001"
}

object SparkSpecBase {
  val cpus = 4
  lazy val session: SparkSession = GraftSession.local(cpus)
}
