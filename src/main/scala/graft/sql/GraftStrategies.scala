package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy

/** graft's planner strategies, registered from one list: the SQL
  * extension injects all of them, and [[install]] adds some of them to
  * a session configured without it (the `enable` methods). */
object GraftStrategies {

  val all: Seq[SparkStrategy] = Seq(
    IndexedJoin.IndexedJoinStrategy,
    IndexedAgg.IndexedCountStrategy,
    IndexedTopK.IndexedTopKStrategy,
    IndexedWindow.IndexedGroupTopNStrategy,
    IndexedPoint.IndexedPointStrategy)

  /** Appends `strategies` to the session's extra strategies, skipping
    * those already there (idempotent). */
  def install(spark: SparkSession, strategies: Seq[SparkStrategy]): Unit = {
    val cur = spark.experimental.extraStrategies
    val missing = strategies.filterNot(cur.contains)
    if (missing.nonEmpty) spark.experimental.extraStrategies = cur ++ missing
  }
}
