package graft

/** Dev tool: dump formatted physical plans for headline queries so the
  * scan/shuffle/broadcast structure can be audited (pushed filters, pruned
  * read schemas, broadcast vs shuffle joins, whole-stage codegen spans).
  *
  * Usage: runMain graft.PlanAudit [sfDir] [queryName...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_pricing_summary", "q2_revenue_by_nation", "q6_forecast_revenue",
        "q24_asof_join", "t5_lsh_dedup", "v1_cosine_topk",
        // round-3 marquee shapes: cutoff-tuple ties (pushed filter),
        // aggregate-below-window quantile, full-join matrix, IVF broadcast
        "q71_ties_compound", "q83_weighted_quantile", "q68_full_join",
        "v3_ivf_topk",
        // round-4 marquee shapes: CH-SQL text plans must look identical to
        // their hand-built twins (pushdown through the translator), the
        // broadcast-edge adaptive histogram, the widened p1 pipeline
        "ch1_sql_agg", "ch10_sql_window", "q90_adaptive_histogram",
        "p1_training_pipeline",
        // round-12 marquee shapes: residual/refined IVFADC serve through
        // the materialized-code-index + broadcast joins, the bloom-index
        // reads prune files at the scan, p7 keeps text out of exchanges
        "v16_ivfpq_residual", "v18_ivfpq_refined", "ch89_sql_bloom_index",
        "p7_pretrain_pipeline",
        // round-12c marquee shapes: the zero-shuffle range search, the
        // scan-speed rule suite, and the gopher/decontam pipeline's
        // broadcast-only probes
        "v19_ivf_range", "t31_gopher_rules", "p8_gopher_decontam_pack")
    // the bench's session: scale-adaptive operators (fanOut) shape plans
    // by session parallelism, so auditing the bench's plan needs its cores
    val spark = Session.local()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
