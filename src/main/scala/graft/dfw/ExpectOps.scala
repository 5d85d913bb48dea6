package graft.dfw

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality expectations — the dbt-test / Deequ-style audit a
  * pipeline runs before promoting a table: each rule scans (or
  * anti-joins) once and reduces to ONE row of
  * `(rule, n_checked, n_violations, pass)`. Rules union into a single
  * lazy plan, so an audit of k rules over one table is k parallel
  * aggregates over a shared scan, not k table reads — and nothing in
  * any rule holds state that grows with the data.
  */
object ExpectOps {

  private def row(rule: String, checked: Column, violations: Column)(df: DataFrame): DataFrame =
    df.agg(checked.cast("long").as("n_checked"), violations.cast("long").as("n_violations"))
      .select(lit(rule).as("rule"), col("n_checked"), col("n_violations"),
        (col("n_violations") === 0L).cast("int").as("pass"))

  /** Column must never be null. */
  def expectNotNull(df: DataFrame, c: String): DataFrame =
    row(s"not_null($c)", count(lit(1)), count(lit(1)) - count(col(c)))(df)

  /** Key columns must be unique: violations = rows beyond the first
    * per key (0 ⇔ key is unique). One hash aggregate on the key.
    */
  def expectUnique(df: DataFrame, keys: Seq[String]): DataFrame =
    row(s"unique(${keys.mkString(",")})", sum(col("__n")), sum(col("__n") - 1))(
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n")))

  /** Values must lie in [lo, hi]; nulls are not range violations (pair
    * with [[expectNotNull]] to reject them).
    */
  def expectInRange(df: DataFrame, c: String, lo: Double, hi: Double): DataFrame =
    row(s"in_range($c,$lo,$hi)", count(lit(1)),
      sum((col(c).isNotNull && (col(c) < lo || col(c) > hi)).cast("long")))(df)

  /** Every non-null child key must exist in the parent (referential
    * integrity). Left-anti join against the broadcast distinct parent
    * keys: a fact-to-dim audit never shuffles the fact table. A parent
    * key set past Spark's broadcast limit fails with Spark's own
    * broadcast-size error.
    */
  def expectRefIntegrity(child: DataFrame, childKey: String,
                         parent: DataFrame, parentKey: String): DataFrame = {
    val p = parent.select(col(parentKey).as("__pk")).distinct()
    val orphans = child.filter(col(childKey).isNotNull)
      .join(broadcast(p), col(childKey) === col("__pk"), "left_anti")
    val n = child.agg(count(col(childKey)).as("n")).select(col("n"))
    val v = orphans.agg(count(lit(1)).as("v")).select(col("v"))
    broadcast(n).crossJoin(broadcast(v))
      .select(lit(s"ref($childKey->$parentKey)").as("rule"),
        col("n").cast("long").as("n_checked"), col("v").cast("long").as("n_violations"),
        (col("v") === 0L).cast("int").as("pass"))
  }

  /** Accepted-values rule: column must be one of the given values. */
  def expectAccepted(df: DataFrame, c: String, values: Seq[String]): DataFrame =
    row(s"accepted($c)", count(lit(1)),
      sum((col(c).isNotNull && !col(c).isInCollection(values)).cast("long")))(df)
}
