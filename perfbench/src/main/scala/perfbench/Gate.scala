package perfbench

import org.apache.spark.sql.{Row, SparkSession}

/** The correctness gate: every ingest must reconcile with the truth and
  * every query must return its ground-truth answer. */
object Gate {

  /** What one ingest left behind, read back from the registered tables. */
  final case class Observed(rows: Long, distinctSops: Long, sourceKeys: Long,
                            errorsByStage: Map[String, Long], columns: Set[String])

  def observe(spark: SparkSession): Observed = {
    val agg = spark.sql(
      s"SELECT count(*), count(DISTINCT sopinstance_uid), count(DISTINCT source_s3_key) " +
        s"FROM ${Corpus.Table}").head()
    val errs = spark.sql(s"SELECT stage, count(*) FROM ${Corpus.ErrorsTable} GROUP BY stage")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Observed(agg.getLong(0), agg.getLong(1), agg.getLong(2), errs,
      spark.table(Corpus.Table).columns.toSet)
  }

  /** Every way `obs` disagrees with `truth`; empty when it reconciles.
    * Objects in = objects with rows + objects errored + objects ignored. */
  def reconcile(truth: Corpus.Truth, obs: Observed): Seq[String] = {
    val want = truth.errorsByStage.map { case (k, v) => k -> v.toLong }
    Seq(
      (obs.rows == truth.images.size) -> s"rows ${obs.rows} != images ${truth.images.size}",
      (obs.distinctSops == truth.images.size) ->
        s"distinct SOP instances ${obs.distinctSops} != ${truth.images.size}",
      (obs.sourceKeys == truth.objectsWithImages) ->
        s"objects with rows ${obs.sourceKeys} != ${truth.objectsWithImages}",
      (obs.errorsByStage == want) -> s"errors by stage ${obs.errorsByStage} != $want",
      (obs.sourceKeys + obs.errorsByStage.values.sum + truth.ignored == truth.objects) ->
        (s"objects do not reconcile: ${obs.sourceKeys} with rows + " +
          s"${obs.errorsByStage.values.sum} errored + ${truth.ignored} ignored != ${truth.objects}"),
      (obs.columns == truth.columns) ->
        (s"columns differ: missing ${(truth.columns -- obs.columns).toSeq.sorted}, " +
          s"extra ${(obs.columns -- truth.columns).toSeq.sorted}")
    ).collect { case (false, msg) => msg }
  }

  /** Result rows as sorted `|`-joined strings, the form the truth uses. */
  def canonical(rows: Seq[Row]): Vector[String] =
    rows.map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|")).toVector.sorted
}
