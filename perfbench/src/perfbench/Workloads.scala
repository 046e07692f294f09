package perfbench

/** One benchmark workload: the registry queries one closed-loop client
  * runs back to back, the input scale they read, and the module ("layer")
  * each query's code lives in. */
final case class Workload(name: String, scale: Scale, queries: Seq[(String, String)],
    /** spark.shuffle.spill.numElementsForceSpillThreshold: the records a
      * sorter holds in memory before it spills. A record cap spills at the
      * same rows on every run; a tight spark.memory.fraction spills
      * wherever the four tasks' memory grants happen to fall, which changes
      * the shuffle bytes from run to run. */
    spillRecords: Option[Int] = None) {
  def layerOf(q: String): String = queries.find(_._1 == q).map(_._2).get
  /** Timed passes: three per 10 measured seconds, fixed so that every run
    * does the same work whatever the host speed. */
  def passes(seconds: Int): Int = math.max(3, seconds * 3 / 10)
}

object Workloads {

  val layers: Seq[String] = Seq("relational", "flatten", "graph", "textdedup",
    "similarity", "textanalysis", "multimodal", "layout", "curation", "streams")

  val all: Seq[Workload] = Seq(
    // the "does not fit" case: scans, joins and spill over a replica whose
    // sorts exceed the per-sorter record cap, plus the CPU-bound
    // text/vector kernels
    Workload("relational_scaled", Scale.sf01.copy(copies = 2), Seq(
      "q01_pricing_summary" -> "relational", "q03_top_orders" -> "relational",
      "q12_window_running" -> "relational",
      "f03_explode_nested_parent" -> "flatten", "d02_minhash_lsh" -> "textdedup",
      "s01_cosine_topk" -> "similarity", "t06_bpe_tokens" -> "textanalysis",
      "m01_media_features" -> "multimodal"),
      spillRecords = Some(50000)),
    // the "fits" case: dispatch- and materialization-bound graph loops,
    // gate persists, layout writes and streaming state; sf0.01 keeps their
    // job structure while a pass fits in a run
    Workload("graph_maintain", Scale.sf001, Seq(
      "q70_pagerank" -> "graph", "q86_kcore" -> "graph",
      "q37_compaction" -> "layout", "d27_fp_purge" -> "textdedup",
      "c09_purge_audit" -> "curation",
      "st14_update" -> "streams")))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))
}
