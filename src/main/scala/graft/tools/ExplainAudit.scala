package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkEntry

/** Plan auditor: prints the formatted physical plan for the given queries
  * (default: a scale-critical subset) so shuffle counts, broadcast choices,
  * pushed filters and codegen spans can be reviewed per round. A query
  * that runs actions while it is built (a collected quantile, a
  * checkpoint) is followed by those actions' executed plans, one
  * `---------- <query> build action N ----------` block each: the query's
  * own plan starts where they stopped.
  *
  * Usage: runMain graft.tools.ExplainAudit [sfDir] [query ...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q_join_agg", "q_dedup_jaccard", "q_embed_neardup",
        "q_pagerank", "q_semi_join", "q_media_hist",
        "q_ann_ivf", "q_dedup_cluster", "q_prep_pipeline",
        "q_range_join", "q_repetition", "q_contamination",
        "q_tpch_q3", "q_tpch_q5", "q_bloom_join", "q_xcontamination",
        "q_upsert", "q_triangles", "q_weighted_sample",
        "q_tpch_q2", "q_tpch_q8", "q_dedup_auto", "q_pmi", "q_fuzzy_join",
        "q_heavy_hitters", "q_exact_quantiles", "q_auc", "q_window_rankfns",
        "q_bm25", "q_cms", "q_budget_cap", "q_split_leakage", "q_zorder",
        "q_bpe_pairs", "q_dataset_diff", "q_bigram_lm", "q_skipgram",
        "q_neg_sample", "q_corpus_run", "q_ivm", "q_dedup_scaled")
    val spark = graft.core.GraftSession.builder("graft-explain", cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val built = new ConcurrentLinkedQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = built.add(qe)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    names.foreach { n =>
      println(s"\n========== $n ==========")
      built.clear()
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      graftbridge.drainListenerBus(spark.sparkContext)
      built.asScala.zipWithIndex.foreach { case (qe, i) =>
        println(s"---------- $n build action ${i + 1} ----------")
        println(qe.explainString(FormattedMode))
      }
    }
    spark.stop()
  }
}
