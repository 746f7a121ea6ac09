package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** A session on an existing SparkContext with no session extensions —
  * none of graft's functions registered — for checking that the
  * DataFrame helpers do not depend on the registration. Lives under
  * org.apache.spark.sql to reach the `private[sql]` constructor. */
object BareSession {
  def apply(sc: SparkContext): SparkSession =
    new org.apache.spark.sql.classic.SparkSession(sc)
}
