package graft.tools

import org.apache.spark.sql.SparkSession

/** Save/restore-safe session conf for naive-vs-rule arms. Setting and
  * then unsetting `spark.sql.optimizer.excludedRules` CLOBBERS any
  * pre-existing exclusions — a run inside a session that already
  * excludes rules would silently re-enable them — and restoring a conf
  * to a hard-coded default loses a prior value. These helpers keep
  * prior exclusions in every arm and restore the exact prior conf
  * afterwards, also when `body` throws.
  */
object RuleToggle {
  private val key = "spark.sql.optimizer.excludedRules"

  private def list(v: Option[String]): Seq[String] =
    v.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  private def restore(spark: SparkSession, k: String, prior: Option[String])
      : Unit = prior match {
    case Some(v) => spark.conf.set(k, v)
    case None => spark.conf.unset(k)
  }

  /** Run `body` with every conf in `kvs` set, then restore each key's
    * prior value (unset where there was none). */
  def withConf[T](spark: SparkSession, kvs: Map[String, String])(
      body: => T): T = {
    val prior = kvs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.foreach { case (k, v) => restore(spark, k, v) }
  }

  /** Run `body` with `include` guaranteed INCLUDED and `exclude`
    * guaranteed EXCLUDED (other prior exclusions kept), then restore
    * the prior conf. */
  def withRules[T](spark: SparkSession, include: Seq[String],
      exclude: Seq[String])(body: => T): T = {
    val prior = spark.conf.getOption(key)
    val xs = (list(prior).filterNot(include.contains) ++ exclude).distinct
    if (xs.isEmpty) spark.conf.unset(key)
    else spark.conf.set(key, xs.mkString(","))
    try body finally restore(spark, key, prior)
  }

  /** Run `body` with `rule` guaranteed EXCLUDED (prior exclusions
    * kept), then restore the prior conf. */
  def withExcluded[T](spark: SparkSession, rule: String)(body: => T): T =
    withRules(spark, Nil, Seq(rule))(body)
}
