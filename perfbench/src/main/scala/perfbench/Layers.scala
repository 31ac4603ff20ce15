package perfbench

/** Every per-layer metric a traced run reports, with its unit. A workload
  * reports the layers it exercises; the others read 0 on that workload.
  * perfbench/README.md maps each one to the end-to-end metric it should
  * move.
  */
object Layers {
  val Stages: Seq[String] = Seq("tokens", "blocking_keys", "candidate_pairs",
    "scored_pairs", "edges", "clusters", "resolved")

  /** The twelve table-driven encoders, in `graft_<name>` form. */
  val Encoders: Seq[String] = Seq("soundex", "refined_soundex", "metaphone",
    "double_metaphone", "nysiis", "phonex", "cologne", "caverphone1",
    "caverphone2", "mra_encode", "dm_soundex", "dm_encode")

  val SuiteGroups: Seq[String] =
    Seq("phonetic", "relational", "ops", "linkage", "streaming")

  val all: Seq[(String, String)] =
    Stages.flatMap(s => Seq(
      s"stage.$s.self_s" -> "s", s"stage.$s.rows" -> "count",
      s"stage.$s.cpu_s" -> "s", s"stage.$s.shuffle_bytes" -> "bytes")) ++
    Seq(
      "tokenize.tokens_per_file" -> "ratio",
      "blocking.keys_per_token" -> "ratio",
      "pairs.pairs_per_key" -> "ratio",
      "score.edges_per_pair" -> "ratio",
      "cc.rounds" -> "count",
      "cc.s_per_round" -> "s",
      "cc.undirected_edges" -> "count",
      "cc.large_graph_loop" -> "bool",
      "io.bytes_written" -> "bytes",
      "io.write_amp" -> "ratio",
      "io.files_written" -> "count") ++
    (Encoders :+ "bm_codes" :+ "score_features")
      .map(e => s"functions.$e.rows_per_s" -> "1/s") ++
    (Encoders :+ "bm_codes").map(e => s"phonetic.$e.encodes_per_s" -> "1/s") ++
    SuiteGroups.flatMap(g => Seq(
      s"suite.$g.s" -> "s", s"suite.$g.jobs" -> "count",
      s"suite.$g.tasks" -> "count")) ++
    Seq(
      "streaming.batches" -> "count",
      "streaming.batch_ms_median" -> "ms",
      "streaming.state_rows_max" -> "count",
      "linkage.jobs" -> "count",
      "linkage.tasks" -> "count",
      "linkage.gc_s" -> "s",
      "linkage.spill_bytes" -> "bytes",
      "linkage.pair_precision" -> "ratio",
      "linkage.pair_recall" -> "ratio",
      "input.files" -> "count",
      "input.distinct_tokens" -> "count",
      "trace.traced_s" -> "s",
      "trace.overhead_s" -> "s",
      "trace.ops_untraced" -> "count")
}
