package graft

import org.scalatest.exceptions.TestFailedException
import org.scalatest.funsuite.AnyFunSuite
import graft.registry.Registry

/** The registry contract: each name once, each with an oracle, and no
  * entry leaves engine state behind. */
class RegistrySpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("building the registry refuses a duplicate name, an empty name and an empty oracle") {
    val e = Registry.entries.head
    val dup = intercept[IllegalArgumentException](
      Registry.checked(Registry.entries :+ e.copy(oracle = "SELECT 1")))
    assert(dup.getMessage.contains(e.name))
    val noOracle = intercept[IllegalArgumentException](
      Registry.checked(Registry.entries :+ e.copy(name = "planted_entry", oracle = " ")))
    assert(noOracle.getMessage.contains("planted_entry"))
    val unnamed = intercept[IllegalArgumentException](
      Registry.checked(Registry.entries :+ e.copy(name = "")))
    assert(unnamed.getMessage.contains(s"position ${Registry.entries.size}"))
    assert(Registry.checked(Registry.entries) == Registry.entries)
  }

  /** What an entry may leave behind, and why. */
  private case class Allowance(why: String, rdds: Int = 0,
      conf: Set[String] = Set.empty)

  /** Each RDD allowance is localCheckpoint'ed data: what the returned
    * frame still reads, or an operator's intermediate. The ContextCleaner
    * drops it once it is unreachable, so a GC during the entry can leave
    * fewer than the allowance, never more. The test unpersists what each
    * entry left before the next one starts, so the cleaner has nothing
    * of an earlier entry's to drop while a later one is checked. */
  private val allowances: Map[String, Allowance] = {
    val codes = Allowance("the PQ code table the frame reads", 1)
    val kmeans = Allowance("the coarse k-means pass's input vectors", 1)
    val both = Allowance("the k-means input vectors and the PQ code table", 2)
    val windows = Allowance("Dedup.substringDedupSpans' window table", 1)
    Map(
      "ch58_sql_recursive" ->
        Allowance("WITH RECURSIVE: each round's frontier and accumulator", 12),
      "ch59_sql_query_params" ->
        Allowance("SET param_* keeps its query parameter in the session",
          conf = Set("graft.param.minpr", "graft.param.cutoff")),
      "t5_lsh_dedup" -> Allowance("the signature table", 1),
      "t9_dedup_clusters" ->
        Allowance("Dedup.connectedComponents: one checkpoint per round", 5),
      "t27_substring_dedup" -> windows,
      "t27b_substring_clean" -> windows,
      "p4b_curation_substring" -> windows,
      "v8_pq_topk" -> codes, "v9_ivfpq_topk" -> codes,
      "v14_pq_trained" -> codes, "v16_ivfpq_residual" -> codes,
      "v18_ivfpq_refined" -> codes,
      "v13_ivf_trained" -> kmeans, "v19b_ivf_range_trained" -> kmeans,
      "v21_ivf_sq8" -> kmeans,
      "v15_ivfpq_trained" -> both, "v17_index_persist" -> both,
      "v20_refined_residual" -> both,
      "v10_semdedup" ->
        Allowance("Similarity.semDedup's k-means vectors and cells", 2),
      "p1_training_pipeline" ->
        Allowance("the deduped corpus and its signature table", 2),
      "p2_embedding_pipeline" ->
        Allowance("semDedup's k-means vectors and cells, the kept corpus", 3),
      "p7_pretrain_pipeline" ->
        Allowance("the gated corpus (DSIR pass and pack join)", 1),
      "p8_gopher_decontam_pack" ->
        Allowance("the gated corpus (decontam pass and pack)", 1))
  }

  test("every registry entry leaves no cached relation, conf change or unlisted persistent RDD behind") {
    val sc = spark.sparkContext
    val failed = Registry.entries.flatMap { e =>
      val a = allowances.getOrElse(e.name, Allowance("none"))
      val before = sc.getPersistentRDDs.keySet
      try {
        assertLeavesNoState(Seq(e.build(spark, sf)), a.rdds, a.conf,
          s"${e.name} (allowed: ${a.why})")
        None
      } catch { case f: TestFailedException => Some(f.getMessage) }
      finally (sc.getPersistentRDDs -- before).values
        .foreach(_.unpersist(blocking = true))
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }
}
