package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Blanket plan guard over the ENTIRE catalog — every query, not just the
  * PlanSpec headliners: the plan shapes that are never acceptable at
  * 100 TB must not appear anywhere, so a refactor that degrades a
  * non-headline query (a lost equi-join key quietly turning a band join
  * into a cross product, a window losing its partition spec) fails the
  * suite instead of surfacing as a cluster incident.
  *
  * The guard inspects the EXECUTED plan (post-EnsureRequirements,
  * AdaptiveSparkPlanExec unwrapped): exchanges are inserted during plan
  * preparation, so `sparkPlan` — the pre-preparation tree an earlier
  * version of this guard grepped — can never contain an
  * `Exchange SinglePartition` node and made that assertion vacuous.
  * Join selection happens before preparation, so the Cartesian/BNLJ
  * checks are equivalent on either tree; they ride the same string.
  *
  * - `CartesianProduct` / unbounded `BroadcastNestedLoopJoin`: candidate
  *   generation throughout the catalog is equi-join on derived keys
  *   (band, bucket, cell, shingle). The ONLY sanctioned BNLJ is the
  *   brute-force/IVF ANN family, where joining a provably tiny broadcast
  *   side (the fixed query/centroid set) against every row IS the
  *   operator's semantic, and the big side streams through exactly once.
  * - `Exchange SinglePartition`: data rows must never funnel through one
  *   task — global ranks are TakeOrderedAndProject, global prefix sums
  *   are distributed (t_shard_pack). The exception class is the
  *   POST-PARTIAL-AGG SCALAR FUNNEL: a global aggregate (one-row corpus
  *   totals, the 64-row quantization stats) partial-aggregates every
  *   partition down to one row before the exchange, so the funnel moves
  *   O(partitions) rows, not data. Those queries are sanctioned BY NAME
  *   in [[scalarFunnelSanctioned]] with the funnel's identity stated —
  *   anything else (e.g. a Window.orderBy with no partitionBy over
  *   unbounded rows, which plans exactly this exchange) fails the suite,
  *   and the failure prints the first lines of each single-partition
  *   exchange's CHILD: the relation that would funnel through one task,
  *   which is what decides whether a new sanction entry is a scalar
  *   funnel or a data funnel.
  */
class CatalogPlanGuardSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Broadcast side is the bounded query/centroid set — see class doc.
    * `t_unigram_lm` / `t_collocations` / `t_token_heavy` are sanctioned
    * tighter still: their broadcast side is the ONE-row corpus-total
    * scalar crossed onto the scored stream.
    */
  private val bnljSanctioned =
    Set("v_knn_brute", "v_ivf_assign", "v_ivf_search", "v_ivf_nprobe",
      "v_ivf_recall", "v_kmeans_step", "t_semantic_dedup", "t_dedup_multimodal",
      "t_delta_semantic", "t_unigram_lm", "t_collocations", "t_token_heavy",
      // trending decay: the one-row corpus-head scalar (max ts) crossed
      // onto the event stream — the unigram-LM shape exactly
      "e_trending_decay",
      "v_cluster_balance", "t_dsir_weight", "t_tfidf_topk",
      // PQ recall audit: same exact-ground-truth shape as v_ivf_recall —
      // the broadcast side is the fixed 5-query panel; the composed
      // IVF-PQ search inherits the centroid-assignment cross from the
      // IVF family (broadcast side = the 16 centroids)
      "v_pq_recall", "v_ivfpq_search", "v_ivfpq_residual",
      // cluster topics: centroid-assignment cross + the one-row corpus total
      "t_cluster_topics",
      // CCNet buckets compose the unigram-LM core, inheriting its
      // sanctioned one-row corpus-total cross
      "t_ccnet_buckets",
      // index balance/drift inherit the IVF family's centroid-assignment
      // cross; drift adds the one-row totals scalar cross
      "v_index_balance", "v_index_drift", "t_token_drift",
      // trained-centroid recall audits: same centroid-assignment cross +
      // fixed-query-panel truth as v_ivf_recall/v_pq_recall, centroids
      // and codebooks from kmeansTrain
      "v_ivf_recall_trained", "v_pq_recall_trained",
      // hybrid retrieval: the dense list scores the corpus against a
      // 1-row broadcast probe vector — the v_knn_brute shape at its
      // smallest possible broadcast side
      "t_rrf_fusion",
      // compressed-tier searches + their recall audits: identical
      // fixed-5-query broadcast panel as v_knn_brute (the sq8 pair adds
      // the 1-row quantization-stats cross)
      "v_bq_search", "v_bq_recall", "v_sq8_search", "v_sq8_recall",
      // the stored-sq8 twin: the identical fixed-panel join over the
      // decoded STORED codes (stats arrive as a 1-row stored cross)
      "v_sq8_from_index",
      "v_mrl_recall",
      // filtered ANN + MMR pool build: the v_knn_brute broadcast-panel
      // probe (MMR's greedy rounds are equi-joins on query_id)
      "v_filtered_ann", "v_mmr_rerank",
      // progressive cascade: tier 1 is the BQ screen's fixed-5-query
      // broadcast panel (the v_bq_search shape); tiers 2/3 are
      // candidate-keyed equi-joins
      "v_cascade_search", "v_cascade_recall", "v_cascade_from_index",
      // filtered stored serve: the same fixed-panel screen cross over
      // the keep-SEMI-JOINED stored words (the filter prunes the big
      // side; the rerank is candidate-keyed equi-joins)
      "v_filtered_bq",
      // stored-index time travel + hybrid: both run the stored ADC
      // search, whose probe step is the IVF family's sanctioned
      // centroid-assignment cross (queries x 16 broadcast centroids);
      // the hybrid adds nothing else unkeyed (the fuse is a full-outer
      // equi-join of two <= pool-row lists)
      "v_ivfpq_asof", "t_hybrid_from_index",
      // filtered hybrid: same two stored legs as t_hybrid_from_index —
      // the dense leg's probe step is the IVF centroid-assignment cross
      // (1 probe x 16 broadcast centroids); the keep semi-joins on both
      // legs are doc/vec-keyed equi-joins and add nothing unkeyed
      "t_hybrid_filtered",
      // per-request-pairs hybrid: VERIFIED from the executed plan — the
      // only BNLJ is the IVF centroid-assignment cross (2 probes x 16
      // broadcast centroids, IdentityBroadcastMode over the stored
      // cents); the pairs relation build is a derived-key equi-join
      // (parity), the sparse leg joins pairs on doc_id, the dense leg's
      // keepPairs is a (query_id, cand_id)-keyed left_semi, and the
      // fuse is a full-outer equi-join of <= pool-row lists
      "t_hybrid_pairs",
      // per-request-pairs cascade: tier 1's screen is now an EQUI-join
      // (pairs keyed on cand_id then query_id — the panel cross is
      // gone); the remaining BNLJ is tier 2's ONE-ROW stored
      // quantizer-stats cross onto the query/candidate decode (the
      // v_sq8_from_index shape exactly)
      "v_filtered_pairs",
      // ADC refine funnel: the stored search's probe step is the IVF
      // centroid-assignment cross; the recall row adds the brute-force
      // panel truth (both sanctioned shapes above)
      "v_ivfpq_refined", "v_ivfpq_refined_recall")

  /** Queries whose executed plan contains an `Exchange SinglePartition`
    * that is a sanctioned post-partial-agg scalar funnel (see class
    * doc). Every entry was audited from the exchange's CHILD (the guard
    * prints it for any unsanctioned funnel): in each, the exchanged
    * relation is a keyless partial aggregate emitting ≤ 1 row per
    * partition — corpus/count
    * totals, lo/hi quantization stats, or a bounded Misra-Gries sketch
    * buffer — never data rows. The audit that produced this list also
    * caught and FIXED a real offender: e_ppr_seeded's global rank
    * window over the item-count table (now TakeOrderedAndProject +
    * broadcast flag; e_bfs_hops had the same shape hidden behind a
    * localCheckpoint).
    */
  private val scalarFunnelSanctioned: Set[String] = Set(
    // one-row revenue scalar (partial_count + partial_sum)
    "q6_forecast_revenue",
    // three stage-total sums over pre-aggregated per-user flags
    "e_funnel_rates",
    // capped-degree audit: count/sum/max scalars over per-user degrees
    "e_degree_cap_audit",
    // precision/recall ratios: two count scalars over the audited pairs
    "t_lsh_precision", "t_lsh_recall",
    // corpus token-total scalar crossed onto the scored stream
    "t_ccnet_buckets", "t_unigram_lm", "t_collocations", "t_cluster_topics",
    // corpus-head scalar (one partial max ts per partition) crossed
    // onto the event stream for the decay ages
    "e_trending_decay",
    // corpus total + bounded Misra-Gries sketch buffer (one map/partition)
    "t_token_heavy",
    // base/delta token-total pairs
    "t_token_drift", "v_index_drift",
    // retained/total token counts for the importance ratio
    "t_dsir_weight",
    // corpus doc-count scalar for the idf term
    "t_tfidf_topk",
    // five stage-count scalars of the curation funnel report
    "t_curate_funnel",
    // coverage audit: three partial-summed membership counters over the
    // full-outer id join — the exchanged relation is one 3-sum row per
    // partition (audited from the exchange's child), never id rows
    "v_cascade_coverage",
    // per-dimension lo/hi stats: 128 partial min/max, one row total
    "v_sq8_stats", "v_sq8_search", "v_sq8_recall",
    // the cascade's SQ8 tier carries the same lo/hi stats funnel (the
    // from-index variant has no training pass and needs no sanction)
    "v_cascade_search", "v_cascade_recall",
    // cell-size distribution scalars (count/sum/min/max over 16 cells)
    "v_index_balance",
    // Spark's OWN runtime-filter optimization: an injected
    // bloom_filter_agg scalar subquery (one bloom buffer per partition,
    // merged once) pruning the semantic-join probe side — visible only
    // in the plan STRING (subqueries live in expressions, not children)
    "t_delta_semantic",
    // same injected bloom_filter_agg class (r21): once the tier-1
    // screen is checkpointed, the optimizer's size estimates let it
    // inject runtime bloom filters on the tier-2/3 candidate joins —
    // plan-string audited: both SinglePartition exchanges carry one
    // partial bloom buffer per partition (query_id / cand_id keys),
    // never data rows
    "v_filtered_pairs")

  /** The first lines of the child of every single-partition exchange in
    * `p`, through AQE wrappers and subquery expressions.
    */
  private def funnelChildren(p: SparkPlan): Seq[String] =
    p.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => funnelChildren(a.executedPlan)
      case e: ShuffleExchangeExec if e.outputPartitioning.numPartitions == 1 =>
        Seq(e.child.toString.linesIterator.take(3).map(_.trim).mkString(" / "))
    }.flatten

  /** The guard core — exposed to the negative test: the scale-hostile
    * shapes present in `df`'s executed plan, given the name-keyed
    * sanction lists. An unsanctioned single-partition exchange is
    * reported with its funnelled child.
    */
  private def offenses(name: String, df: DataFrame): Seq[String] = {
    val p = df.queryExecution.executedPlan
    val expanded = p.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val plan = (p +: expanded).map(_.toString).mkString("\n")
    Seq(
      "CartesianProduct" -> plan.contains("CartesianProduct"),
      "SinglePartition" ->
        (plan.contains("Exchange SinglePartition") && !scalarFunnelSanctioned(name)),
      "BroadcastNestedLoopJoin" ->
        (plan.contains("BroadcastNestedLoopJoin") && !bnljSanctioned(name)),
    ).collect {
      case ("SinglePartition", true) =>
        s"SinglePartition over [${funnelChildren(p).mkString("] [")}]"
      case (label, true) => label
    }
  }

  test("no catalog query plans a cartesian, a rogue BNLJ, or an unsanctioned single-partition exchange") {
    val offenders = Catalog.all.flatMap { q =>
      val bad = offenses(q.name, q.spark(spark, sf))
      if (bad.isEmpty) None else Some(s"${q.name}: ${bad.mkString(", ")}")
    }
    assert(offenders.isEmpty, s"scale-hostile plan shapes:\n${offenders.mkString("\n")}")
    // the sanctioned shapes still exist (the guard keeps meaning something)
    val names = Catalog.all.map(_.name).toSet
    assert(bnljSanctioned.subsetOf(names))
    assert(scalarFunnelSanctioned.subsetOf(names))
  }

  test("the guard catches an unpartitioned rank window over unbounded rows") {
    import spark.implicits._
    // the classic mistake the funnel sanction must NOT cover: a global
    // row_number with no partition spec plans Exchange SinglePartition
    // over the full data stream
    val bad = spark.range(0L, 1000L).toDF("id")
      .withColumn("rn", row_number().over(Window.orderBy($"id")))
    val funnel = offenses("synthetic_global_rank", bad)
    assert(funnel.exists(_.startsWith("SinglePartition")))
    // the message names the funnelled child: the full range scan
    assert(funnel.exists(_.contains("Range (0, 1000")), funnel)
    // and a genuine scalar aggregate with no partial-agg bypass is the
    // shape the sanction list exists for — it DOES trip the raw check
    val scalar = spark.range(0L, 1000L).toDF("id").agg(sum($"id").as("s"))
    assert(offenses("synthetic_scalar_agg", scalar).exists(_.startsWith("SinglePartition")))
  }
}
