package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run: the product's
  * session on a fixed 4 cores, so plan-shape and partition-count
  * assertions do not depend on the machine. */
object SparkTestSession {
  lazy val get: SparkSession = GraftSession(4)
}
