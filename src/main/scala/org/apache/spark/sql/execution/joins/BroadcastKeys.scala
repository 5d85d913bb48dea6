package org.apache.spark.sql.execution.joins

/** Whether a broadcast value is a hash relation in which no key repeats,
  * so a join probing it emits at most one row per streamed row. A row
  * array (`IdentityBroadcastMode`, the nested-loop join's side) never
  * counts. `HashedRelation` is `private[execution]`; this bridge lives
  * in its package to read it.
  */
object BroadcastKeys {
  def unique(value: Any): Boolean = value match {
    case h: HashedRelation => h.keyIsUnique
    case _ => false
  }
}
