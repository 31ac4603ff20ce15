package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Blocking-key generation + candidate pair generation.
  *
  * Every (file, token) row fans out to one row per blocking key, where the
  * keys come from several phonetic encoders at once — multi-code encoders
  * (Daitch-Mokotoff, Double Metaphone) contribute *exploded array* keys so
  * one name lands in multiple blocks (north rule). All encoder columns are
  * native Catalyst expressions inside one whole-stage-codegen projection.
  *
  * Pair generation is *sorted-neighborhood within block*: records in a
  * block are ordered by file id and each record pairs with its next
  * `window` neighbors. That bounds pair count to O(rows x window) instead
  * of O(block^2) — the property that keeps a 10^12-row self-join feasible —
  * while keeping every true cluster connected (members sharing a block form
  * a chain). Oversized blocks are split into salted segments (pair volume
  * stays linear, recall survives through multi-key redundancy); only
  * degenerate boilerplate codes are dropped.
  */
object Blocking {

  private lazy val bmBlocking =
    new graft.phonetic.bm.BeiderMorse(maxPhonemes = 4)

  /** Driver-side scalar mirror of [[blockingKeys]] for one token — the
    * single source of truth shared with the synthetic ground-truth
    * generator ([[NameFixtures.families]]): a pair of names can only ever
    * be linked if these key sets intersect.
    */
  def scalarBlockKeys(token: String): Set[String] = {
    import graft.phonetic._
    val dmr = DoubleMetaphone.default.doubleMetaphone(token)
    val keys = Seq(
      "sx:" + Soundex.default.encode(token),
      "mp:" + Metaphone.default.encode(token),
      "ny:" + Nysiis.default.encode(token),
      "cv:" + Caverphone2.encode(token),
      "p3:" + token.take(3)) ++
      DaitchMokotoff.default.innerSoundex(token, branching = true)
        .map("dm:" + _) ++
      Seq("xm:" + dmr.primary, "xm:" + dmr.alternate) ++
      bm.BeiderMorse.splitCodes(bmBlocking.encode(token)).map("bm:" + _)
    keys.filter(_.length > 3).toSet
  }

  /** (file_id, token) -> (file_id, token, key) with key = encoder:code.
    *
    * @param carry extra input columns to pass through unchanged (e.g. the
    *              event-time column the streaming mirror watermarks on).
    */
  def blockingKeys(tokens: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val t = col("token")
    val keyed = tokens.select(
      Seq(col("file_id"), t) ++ carry.map(col) ++ Seq(
        array(
          concat(lit("sx:"), graftSoundex(t)),
          concat(lit("mp:"), graftMetaphone(t)),
          concat(lit("ny:"), graftNysiis(t)),
          concat(lit("cv:"), graftCaverphone2(t)),
          // plain 3-char prefix: catches truncation variants (Sam/Samuel,
          // Zach/Zacharia) that no phonetic code co-blocks
          concat(lit("p3:"), substring(t, 1, 3))).as("scalar_keys"),
        transform(graftDmSoundex(t), c => concat(lit("dm:"), c))
          .as("dm_keys"),
        transform(graftDoubleMetaphone(t), c => concat(lit("xm:"), c))
          .as("xm_keys"),
        // Beider-Morse multi-variant keys (north rule); maxPhonemes=4
        // bounds the per-token fanout while keeping cross-language
        // variants
        transform(
          call_function("graft_bm_codes", t,
            lit("gen"), lit("approx"), lit(true), lit(4)),
          c => concat(lit("bm:"), c)).as("bm_keys")): _*)
    keyed
      .select(
        (Seq(col("file_id"), t) ++ carry.map(col) :+
          explode(
            array_distinct(
              concat(col("scalar_keys"), col("dm_keys"), col("xm_keys"),
                col("bm_keys"))))
            .as("key")): _*)
      // codes of empty/degenerate tokens ("sx:", "dm:000000" of "") carry
      // no signal; drop keys whose code part is empty
      .where(length(col("key")) > 3)
  }

  /** Candidate pairs via sorted-neighborhood within block, with a
    * three-tier skew defuse on block size:
    *
    *  - `size <= maxBlockSize`: pair as-is (one sorted-neighborhood
    *    window per block).
    *  - `maxBlockSize < size <= degenerateBlockSize`: SPLIT the block
    *    into `ceil(size / maxBlockSize)` salted segments (deterministic
    *    hash of file_id appended to the key) and pair within each
    *    segment. A legitimately common name — "smith" at 10^12 rows —
    *    therefore keeps producing candidate pairs (the pre-round-5
    *    wholesale drop silently deleted ALL of them) while no single
    *    task ever sorts more than ~maxBlockSize rows and pair volume
    *    stays O(rows x window). Recall note: sorted-neighborhood inside
    *    a block ordered by file_id is already a sampling of the block's
    *    O(n^2) pairs; hash-splitting changes WHICH rows x window sample
    *    is taken, not its size, and records carry ~10 independent keys
    *    per token, so a cluster unlucky in one key's segmentation still
    *    connects through its other keys.
    *  - `size > degenerateBlockSize`: dropped entirely. Codes this hot
    *    are degenerate boilerplate (the document-frequency prune in
    *    [[Tokenizer.pruneCommon]] catches real Zipf heads before they
    *    get here), and carrying them would only add noise pairs.
    *
    * @param maxBlockSize        target per-segment block size; blocks
    *                            above it are split, not dropped.
    * @param window              neighbors per record within a block.
    * @param degenerateBlockSize blocks above this are dropped wholesale
    *                            (boilerplate codes with no linkage
    *                            signal).
    * @param materializeKeys     checkpoint `keys` so the sizing aggregate
    *                            and the pairing join (two plan branches;
    *                            only the sizing branch ends in an
    *                            exchange) evaluate the blocking-key
    *                            projection ONCE instead of twice — the
    *                            right default when `keys` is the raw
    *                            12-encoder projection (Beider-Morse
    *                            included). Pass false when `keys` is
    *                            already a committed/persisted table
    *                            (e.g. a TableIO stage): re-reading it
    *                            twice is cheaper than holding an
    *                            in-memory copy of a durable table.
    */
  def candidatePairs(
      keys: DataFrame,
      maxBlockSize: Int = 10000,
      window: Int = 3,
      degenerateBlockSize: Int = 1000000,
      materializeKeys: Boolean = true): DataFrame = {
    require(degenerateBlockSize >= maxBlockSize,
      s"degenerateBlockSize $degenerateBlockSize < maxBlockSize $maxBlockSize")
    // see @param materializeKeys; the checkpoint holds exactly what the
    // window exchange shuffles next anyway (key, file_id, token) and
    // spills to disk under pressure (interleaved A/B at 200k and 800k
    // files: parity-to-faster vs the recompute-twice shape, identical
    // pair counts — OPTIMIZATION_r06.md)
    val keyRows = if (materializeKeys) keys.localCheckpoint() else keys
    // Block sizing WITHOUT a per-key window: a count(*) over
    // Window.partitionBy(key) would funnel every row of a degenerate block
    // through one task before it can be discarded. groupBy gets map-side
    // partial aggregation, the oversized-key list is tiny by construction
    // (each key is > maxBlockSize rows), so it broadcasts into a hash join
    // and hot keys are salted/dropped before any shuffle-by-key of the
    // full data.
    val oversized = keyRows
      .groupBy("key").agg(count(lit(1)).as("block_size"))
      .where(col("block_size") > maxBlockSize)
      .select(col("key"),
        when(col("block_size") > degenerateBlockSize, lit(-1))
          .otherwise((floor((col("block_size") - 1) / maxBlockSize) + 1)
            .cast("int"))
          .as("n_segments"))
    val sized = keyRows
      .join(broadcast(oversized), Seq("key"), "left")
      // degenerate tier: drop
      .where(coalesce(col("n_segments"), lit(1)) > 0)
      // split tier: salt the key so each segment is its own block; the
      // salt is a deterministic pure function of file_id, so reruns and
      // the batch/stream mirrors agree on segmentation
      .select(
        when(col("n_segments").isNull, col("key"))
          .otherwise(concat(col("key"), lit("#"),
            pmod(xxhash64(col("file_id")), col("n_segments").cast("long"))
              .cast("string")))
          .as("key"),
        col("file_id"), col("token"))

    val w = Window.partitionBy("key").orderBy("file_id", "token")
    val rec = struct(col("file_id"), col("token"))
    val withNeighbors = sized.select(
      col("file_id").as("id_a"),
      col("token").as("token_a"),
      array((1 to window).map(k => lead(rec, k).over(w)): _*)
        .as("neighbors"))

    withNeighbors
      .select(col("id_a"), col("token_a"),
        explode(col("neighbors")).as("n"))
      .where(col("n").isNotNull)
      .select(
        col("id_a"), col("token_a"),
        col("n.file_id").as("id_b"), col("n.token").as("token_b"))
      .where(col("id_a") =!= col("id_b"))
      // canonical orientation + dedupe across blocks
      .select(
        least(col("id_a"), col("id_b")).as("src"),
        greatest(col("id_a"), col("id_b")).as("dst"),
        when(col("id_a") < col("id_b"), col("token_a"))
          .otherwise(col("token_b")).as("token_a"),
        when(col("id_a") < col("id_b"), col("token_b"))
          .otherwise(col("token_a")).as("token_b"))
      .dropDuplicates("src", "dst", "token_a", "token_b")
  }
}
