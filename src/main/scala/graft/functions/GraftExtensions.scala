package graft.functions

import org.apache.spark.sql.{Column, GraftFrames, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The six native expressions, each with its SQL name, in one table.
  *
  * Operators build them as Columns by applying an entry to two Columns
  * (`dot($"a", $"b")`), so a plan never looks a name up and computes the
  * same in any session. SQL users get the same table by name through
  * [[GraftExtensions]]. */
object GraftFunctions {

  /** One native function: its SQL name, its expression class (what
    * `DESCRIBE FUNCTION EXTENDED` reports), its builder and its usage.
    * Applied to two Columns it is the expression over them, as a Column. */
  final case class Native(
      name: String,
      clazz: Class[_ <: Expression],
      build: (Expression, Expression) => Expression,
      usage: String) {
    def apply(a: Column, b: Column): Column =
      GraftFrames.column(build(GraftFrames.expression(a), GraftFrames.expression(b)))
  }

  val dot = Native("graft_dot", classOf[DotProduct], DotProduct(_, _),
    "graft_dot(a, b) - left-to-right double-fold dot product of two float/double arrays")
  val gramMinMd5 = Native("graft_gram_min_md5", classOf[GramMinMd5], GramMinMd5(_, _),
    "graft_gram_min_md5(text, n) - minimum md5 over rolling character n-grams (winnowing fingerprint)")
  val charGrams = Native("graft_char_grams", classOf[CharGrams], CharGrams(_, _),
    "graft_char_grams(text, n) - sorted distinct rolling character n-grams")
  val sortedInter = Native("graft_sorted_inter", classOf[SortedInterCount], SortedInterCount(_, _),
    "graft_sorted_inter(a, b) - intersection size of two ascending duplicate-free arrays")
  val bpeSymLen = Native("graft_bpe_sym_len", classOf[BpeSymLen], BpeSymLen(_, _),
    "graft_bpe_sym_len(word, merges) - symbols left in word after the rank-ordered BPE merges")
  val pqAdc = Native("graft_pq_adc", classOf[PqAdc], PqAdc(_, _),
    "graft_pq_adc(codes, lut) - product-quantization ADC score of packed codes against a lookup table")

  val all: Seq[Native] = Seq(dot, gramMinMd5, charGrams, sortedInter, bpeSymLen, pqAdc)
}

/** Registers [[GraftFunctions.all]] by name in every session built with
  *
  * {{{
  *   spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * as `graft.util.LocalSession` builds them. Injection happens at session
  * build time through the supported `SparkSessionExtensions.injectFunction`
  * hook. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { f =>
      ext.injectFunction((
        FunctionIdentifier(f.name),
        new ExpressionInfo(f.clazz.getName, null, f.name, f.usage,
          "", "", "", "", "", "", "scala_udf"),
        (exprs: Seq[Expression]) => f.build(exprs(0), exprs(1))))
    }
}
