package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing for LLM pretraining (SURVEY.md §7.5 extension
  * family): documents are conceptually concatenated in id order into
  * one token stream and split into fixed-budget chunks; each document
  * is assigned the chunk containing its first token. This is the
  * standard concat-and-chunk packing — the operator computes each
  * doc's global token start offset and pack id without ever building
  * the stream.
  *
  * Scale design: the global prefix sum is [[GlobalOrder.runningSum]]
  * in id order, so the plan has no single-partition sort of the
  * corpus.
  */
object Packing {

  /** @param idCol      unique orderable doc id (pack order)
    * @param nTokensCol per-doc token count
    * @param budget     tokens per pack (sequence length)
    * @return (idCol, nTokensCol, start_offset, pack_id)
    */
  def packByTokenBudget(
      df: DataFrame,
      idCol: String,
      nTokensCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    GlobalOrder.runningSum(
        df.select(col(idCol), col(nTokensCol).cast("long").as(nTokensCol)),
        idCol, Nil, nTokensCol, "_end")._1
      .withColumn("start_offset", col("_end") - col(nTokensCol))
      .withColumn("pack_id", floor(col("start_offset") / budget).cast("long"))
      .select(col(idCol), col(nTokensCol), col("start_offset"), col("pack_id"))
  }

  /** Context-length sizing report for concat-and-chunk packing: per
    * candidate budget, how many documents get SPLIT across a pack
    * boundary and how many tokens land past their document's first
    * boundary — the attention-contamination readout that decides the
    * training context length (split docs attend across unrelated
    * neighbors unless masked).
    *
    * The global start offsets are budget-INDEPENDENT, so they are
    * computed once ([[packByTokenBudget]]) and every
    * budget's flags are pure arithmetic over the same frame:
    * a doc splits iff start div B ≠ (start+n−1) div B, and its
    * crossing tokens are n − (B − start mod B) (everything past the
    * FIRST boundary, multi-boundary docs included). `n_packs` is the
    * exact ceiling ⌈total/B⌉. All counts exact; fractions are one
    * division each.
    */
  def packingFragmentation(df: DataFrame, idCol: String,
      nTokensCol: String, budgets: Seq[Long]): DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_ > 0), s"bad: $budgets")
    val offs = packByTokenBudget(df, idCol, nTokensCol, budgets.head)
      .select(col(idCol), col(nTokensCol).as("_n"), col("start_offset"))
    val b = col("budget")
    val split = col("_n") > 0L &&
      expr("start_offset div budget") =!=
        expr("(start_offset + _n - 1) div budget")
    offs
      .select(col("*"), explode(array(budgets.map(lit): _*)).as("budget"))
      .withColumn("_split", split)
      .withColumn("_cross", when(col("_split"),
        col("_n") - (b - pmod(col("start_offset"), b))).otherwise(0L))
      .groupBy(b)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_n")).as("total_tokens"),
        sum(when(col("_split"), 1L).otherwise(0L)).as("n_split_docs"),
        sum(col("_cross")).as("n_cross_tokens"))
      .select(b, col("n_docs"), col("total_tokens"),
        expr("(total_tokens + budget - 1) div budget").as("n_packs"),
        col("n_split_docs"),
        (col("n_split_docs").cast("double") / col("n_docs").cast("double"))
          .as("split_frac"),
        col("n_cross_tokens"),
        (col("n_cross_tokens").cast("double") /
          col("total_tokens").cast("double")).as("cross_frac"))
  }
}
