package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.TextAnalysis
import graft.queries.Queries

/** Operator-bound: a fixed list of the repo's own queries over small flat
  * tables, one per operator module plus an aggregate and a join, each
  * executed to a `noop` sink. The rule runs on every plan but has nothing
  * nested to narrow, so its numbers should not move here; the operator
  * modules' numbers do. Each module's query is one of its cheaper ones, so
  * a run times several passes, and the count is odd, so the median query
  * is one query, not the gap between two unlike ones. */
final class OperatorMix(orders: Long) extends Workload {
  val name = "operator_mix"
  // the correctness pass has already run each query twice
  val warmupPasses = 0

  /** t50's unigram-LM training, both EM rounds from scratch: the query
    * `t50_unigram_lm` resumes round 2 from a process-wide memo of round 1,
    * which the correctness pass would fill and every timed run then skip. */
  private def unigramLm(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLmVocab(Queries.t(s, dir, "documents"), "text", vocabMulti = 64,
      maxPieceLen = 4, maxWordLen = 12, emRounds = 2)
      .orderBy(col("freq").desc, col("piece"))

  private def query(q: String): (SparkSession, String) => DataFrame = Queries.byName(q).run

  /** (name, operator module, table whose files go to `schemaFor`, query) */
  private val queries = Seq(
    ("q01_groupby_agg", "flat", "lineitem", query("q01_groupby_agg")),
    ("q03_join_agg", "flat", "lineitem", query("q03_join_agg")),
    ("q114_assortativity", "Graph", "lineitem", query("q114_assortativity")),
    ("s06_knn_ivf_sq8", "Similarity", "embeddings", query("s06_knn_ivf_sq8")),
    ("unigram_lm_2rounds", "TextAnalysis", "documents", unigramLm _),
    ("d07_simhash_pairs", "Dedup", "documents", query("d07_simhash_pairs")),
    ("m05_image_neardup", "Multimodal", "documents", query("m05_image_neardup")))

  def setup(spark: SparkSession, dir: String, seed: Long): Prepared = {
    val tables = new Data(spark, seed).flat(dir, orders)
    val files = tables.map(t => t.name.stripSuffix(".parquet") -> spark.read.parquet(t.path).inputFiles.toSeq).toMap
    Prepared(queries.map { case (q, module, table, run) =>
      Shape(q, module, files(table), s => run(s, dir))
    }, tables)
  }
}
