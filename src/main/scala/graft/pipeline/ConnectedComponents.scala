package graft.pipeline

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Transitive closure via min-label propagation with pointer jumping.
  *
  * Each round does two things:
  *   1. neighbor propagation — the *frontier* (vertices whose label changed
  *      last round) offers its label across the big static edge table (the
  *      north rule's "iterative large-to-small hash join": AQE broadcasts
  *      the frontier once it shrinks under the threshold);
  *   2. pointer jumping (path halving) — every vertex re-reads the label of
  *      its current label vertex, so label chains collapse geometrically.
  *
  * Propagation alone needs O(diameter) rounds; with halving the loop
  * converges in O(log diameter) — the property that matters when
  * sorted-neighborhood chains make long thin components at 10^12 rows.
  *
  * TWO physical executions of the SAME algorithm, chosen by measured edge
  * count (the strategy-by-size pattern broadcast joins use):
  *   - large graphs run the DataFrame loop: UnsafeRow shuffles, codegen,
  *     AQE frontier broadcasts — the 100-TB shape. Each round
  *     localCheckpoints to cut lineage so plans don't grow.
  *   - small graphs (<= `smallGraphMaxEdges` undirected edges, e.g. the
  *     tail subgraphs an incremental pipeline closes per batch) run the
  *     identical candidate/jump/changed rules as an RDD loop over a fixed
  *     HashPartitioner: the edge table is co-partitioned ONCE, every
  *     round is one job with zero Catalyst re-planning/codegen, and
  *     convergence is detected by an accumulator (over-count under task
  *     retry can only inflate a NONZERO count — a zero count has nothing
  *     to double-count — so the zero test that stops the loop is exact).
  *     Measured on this repo's fixtures: ~2x less fixed overhead per
  *     round at 4k-80k edges, while at 800k edges the boxed-tuple
  *     shuffles lose to the DataFrame loop — hence the size gate.
  *     RDD-loop parity with the DataFrame loop is spec-pinned
  *     (ConnectedComponentsSpec "small- and large-graph loops agree").
  *
  * Restart story, two tiers: by default a driver restart resumes from the
  * last pipeline-stage checkpoint (TableIO) and replays the whole loop —
  * localCheckpoint blocks live in executor memory, so a lost executor
  * mid-loop also forces that replay. Passing `durable` writes a
  * (labels + frontier) snapshot through TableIO every k rounds and resumes
  * the LOOP from the newest committed snapshot, making the 10^12-row run
  * restartable mid-closure; completed runs clean their snapshots up.
  * Snapshots are representation-independent (a parquet stage of
  * (file_id, cluster_id, in_frontier)), so either loop resumes a snapshot
  * the other wrote.
  */
object ConnectedComponents {

  /** Default edge-count gate for the low-overhead small-graph loop. */
  val SmallGraphMaxEdges: Long = 100000L

  private def snapshotStage(i: Int): String = s"cc_round_$i"

  /** The lineage token recorded in a committed loop snapshot's manifest
    * (a first-class TableIO metadata field).
    */
  private def recordedToken(io: graft.io.TableIO, stage: String): String =
    io.metadataOf(stage, "lineage").getOrElse("")

  /** edges(src, dst) + vertices(file_id) -> (file_id, cluster_id). */
  def run(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      maxIterations: Int = 50,
      durable: Option[(graft.io.TableIO, Int)] = None,
      lineageToken: String = "",
      canonicalEdges: Boolean = false,
      smallGraphMaxEdges: Long = SmallGraphMaxEdges): DataFrame =
    runCounted(spark, vertices, edges, maxIterations, durable,
      lineageToken, canonicalEdges, smallGraphMaxEdges)._1

  /** [[run]] plus the number of rounds executed — lets tests pin the
    * O(log diameter) convergence property of pointer jumping.
    *
    * @param durable optional (TableIO, k): commit a durable loop snapshot
    *   every k rounds and resume from the newest committed one.
    * @param lineageToken fingerprint of the INPUT graph (e.g. the edges
    *   stage manifest's opaque `commit_token`). Snapshots are stamped with it;
    *   a snapshot whose stamp differs from the current token was computed
    *   against a different graph (upstream recomputed, or a shared TableIO
    *   root reused with new data) and is discarded instead of resumed —
    *   resuming it would silently restore labels from the old graph.
    * @param canonicalEdges the caller guarantees `edges` is already
    *   DISTINCT with src < dst (both internal producers — Scoring.edges
    *   and the banded minhash pairs — are). The two orientations of a
    *   distinct canonical set are disjoint and each distinct, so the
    *   undirected edge table needs no dedup shuffle; min-label
    *   propagation is additionally idempotent under duplicate edges, so
    *   this flag can never change the result, only drop an exchange.
    * @param smallGraphMaxEdges undirected-edge-count gate below which the
    *   fixed-partitioner RDD loop runs (0 forces the DataFrame loop —
    *   how the parity spec pins both paths).
    */
  def runCounted(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      maxIterations: Int = 50,
      durable: Option[(graft.io.TableIO, Int)] = None,
      lineageToken: String = "",
      canonicalEdges: Boolean = false,
      smallGraphMaxEdges: Long = SmallGraphMaxEdges): (DataFrame, Int) = {
    // undirected: both orientations, deduped (unless provably canonical)
    val bi0 = edges
      .select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val biEdges = (if (canonicalEdges) bi0 else bi0.dropDuplicates("src", "dst"))
      .localCheckpoint()

    // strategy by measured size (blocks are materialized — this count is
    // a cheap cache scan, not a recompute); the RDD loop needs 64-bit ids
    val longIds =
      vertices.schema.fields.exists(f =>
        f.name == "file_id" &&
          f.dataType == org.apache.spark.sql.types.LongType) &&
        biEdges.schema.fields.forall(
          _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && biEdges.count() <= smallGraphMaxEdges)
      runSmallGraph(spark, vertices, biEdges, maxIterations, durable,
        lineageToken)
    else
      runLargeGraph(spark, vertices, biEdges, maxIterations, durable,
        lineageToken)
  }

  /** The resume decision shared by both loops: newest committed snapshot
    * with a matching lineage stamp, else invalidate all snapshots.
    */
  private def resumableSnapshot(
      durable: Option[(graft.io.TableIO, Int)],
      maxIterations: Int,
      lineageToken: String): Option[(graft.io.TableIO, Int)] =
    durable.flatMap { case (io, _) =>
      val committed =
        (1 to maxIterations).filter(i => io.isCommitted(snapshotStage(i)))
      committed.lastOption.flatMap { i =>
        if (recordedToken(io, snapshotStage(i)) == lineageToken) Some((io, i))
        else {
          committed.foreach(j => io.invalidate(snapshotStage(j)))
          None
        }
      }
    }

  private def dropSupersededSnapshots(io: graft.io.TableIO, upto: Int): Unit =
    (1 until upto).foreach(i =>
      if (io.isCommitted(snapshotStage(i))) io.invalidate(snapshotStage(i)))

  private def dropAllSnapshots(io: graft.io.TableIO, maxIterations: Int): Unit =
    (1 to maxIterations).foreach(i =>
      if (io.isCommitted(snapshotStage(i))) io.invalidate(snapshotStage(i)))

  /** DataFrame loop — UnsafeRow shuffles + AQE broadcasts, the shape for
    * graphs whose frontier/edge volumes need codegen and spill.
    */
  private def runLargeGraph(
      spark: SparkSession,
      vertices: DataFrame,
      biEdges: DataFrame,
      maxIterations: Int,
      durable: Option[(graft.io.TableIO, Int)],
      lineageToken: String): (DataFrame, Int) = {
    var labels = vertices
      .select(col("file_id"), col("file_id").as("cluster_id"))
      .localCheckpoint()

    var frontier = labels
    var iter = 0

    // resume the loop from the newest committed durable snapshot — but
    // only if it was computed against THIS graph (lineage stamp matches);
    // stale snapshots (upstream recomputed under the same root) are
    // invalidated and the loop starts from round 0
    resumableSnapshot(durable, maxIterations, lineageToken).foreach {
      case (io, i) =>
        val snap = io.read(snapshotStage(i))
        labels = snap.select("file_id", "cluster_id")
        frontier = snap.where(col("in_frontier"))
          .select("file_id", "cluster_id")
        iter = i
    }

    var done = false
    while (!done && iter < maxIterations) {
      // 1. frontier labels flow to neighbors (big edges x small frontier),
      // combined map-side per neighbor. Each vertex's own label rides the
      // SAME aggregation as a self-message (flagged), so the candidate
      // label AND the old label come out of one exchange — the previous
      // shape paid a second join (labels x msgMin) per round for the same
      // information. Exactly one self row per vertex exists, so
      // max(self ? cid : null) reconstructs the old label and min(cid)
      // over {old label} u {messages} is the propagation minimum.
      val msgs = biEdges
        .join(frontier, biEdges("src") === frontier("file_id"))
        .select(biEdges("dst").as("file_id"), col("cluster_id").as("cid"),
          lit(false).as("is_self"))
        // fresh attribute ids: shares lineage with labels (round 1), and
        // self-join attribute resolution chokes on duplicate expr ids
        .toDF("file_id", "cid", "is_self")
      val candidate = labels
        .toDF("file_id", "cluster_id")
        .select(col("file_id"), col("cluster_id").as("cid"),
          lit(true).as("is_self"))
        .union(msgs)
        .groupBy("file_id")
        .agg(min("cid").as("cand_cid"),
          max(when(col("is_self"), col("cid"))).as("old_cid"))
        // an edge endpoint missing from `vertices` has no self row, so no
        // old label: drop it, as the RDD loop's join against labels does
        .where(col("old_cid").isNotNull)

      // 2. pointer jumping: take the label of my label's vertex.
      // Parents side carries ONLY non-root vertices (cand_cid < file_id):
      // labels never increase (candidate = min of own id and messages), so
      // a root parent would contribute p_cid == p_id == the child's
      // cand_cid — identical to the join miss the coalesce below already
      // handles. Exact-equivalent output, and the jump join stops
      // shuffling the (large, growing-as-we-converge) root fraction of
      // the vertex set every round.
      val parents = candidate
        .where(col("cand_cid") =!= col("file_id"))
        .select(col("file_id").as("p_id"), col("cand_cid").as("p_cid"))
      // changed-count collected DURING the one materialization job via
      // observe() — no separate convergence-check pass over the labels
      // (at 10^12 vertices that second scan per round is a real cost)
      val obs = org.apache.spark.sql.Observation(
        s"cc_changed_${iter}_${System.nanoTime()}")
      val next = candidate.as("c")
        .join(parents, col("c.cand_cid") === col("p_id"), "left")
        .select(col("c.file_id"),
          coalesce(col("p_cid"), col("c.cand_cid")).as("cluster_id"),
          (coalesce(col("p_cid"), col("c.cand_cid")) =!= col("c.old_cid"))
            .as("changed"))
        .observe(obs, count(when(col("changed"), 1)).as("changed_n"))
        .localCheckpoint() // ONE materialization per round

      done = obs.get("changed_n").asInstanceOf[Long] == 0L
      labels = next.select("file_id", "cluster_id")
      frontier = next.where(col("changed")).select("file_id", "cluster_id")
      iter += 1

      // durable snapshot every k rounds: labels + frontier membership in
      // one committed stage (atomic rename). Reading labels/frontier back
      // from the committed store both cuts lineage to DISK (not executor
      // memory) and makes this round bit-identical to a restarted one.
      durable.foreach { case (io, k) =>
        if (!done && iter % k == 0) {
          val snap = io.stage(snapshotStage(iter),
            metadata = Map("lineage" -> lineageToken)) {
            next.select(col("file_id"), col("cluster_id"),
              col("changed").as("in_frontier"))
          }
          labels = snap.select("file_id", "cluster_id")
          frontier = snap.where(col("in_frontier"))
            .select("file_id", "cluster_id")
          // older snapshots are superseded — drop them so storage stays
          // bounded at one snapshot regardless of round count
          dropSupersededSnapshots(io, iter)
        }
      }
    }
    // completed: loop snapshots are scratch state, not results — clean up
    if (done) durable.foreach { case (io, _) =>
      dropAllSnapshots(io, maxIterations)
    }
    (labels, iter)
  }

  /** Fixed-partitioner RDD loop — the identical candidate/jump/changed
    * rules with none of the per-round planning/codegen/AQE-stage cost:
    * edges are co-partitioned once, each round is ONE job (edges x
    * frontier narrow join -> message reduceByKey -> narrow label merge ->
    * jump join -> repartition-by-id), and the changed count rides a
    * LongAccumulator in the materializing action. Each round's labels are
    * local-checkpointed, so everything older is released as soon as they
    * exist; on return only the RDD the result reads stays persisted.
    */
  private def runSmallGraph(
      spark: SparkSession,
      vertices: DataFrame,
      biEdges: DataFrame,
      maxIterations: Int,
      durable: Option[(graft.io.TableIO, Int)],
      lineageToken: String): (DataFrame, Int) = {
    import spark.implicits._
    val sl = StorageLevel.MEMORY_AND_DISK
    val biRdd = biEdges.as[(Long, Long)].rdd
    val p = new HashPartitioner(math.max(1, biRdd.getNumPartitions))
    val held = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    def hold[T](r: RDD[T]): RDD[T] = { held += r; r }
    def release(keep: RDD[_]*): Unit = {
      val (kept, dropped) = held.partition(r => keep.exists(_ eq r))
      dropped.foreach(_.unpersist(false))
      held.clear(); held ++= kept
    }
    def keyed(df: DataFrame): RDD[(Long, Long)] =
      hold(df.as[(Long, Long)].rdd.partitionBy(p).persist(sl))

    val edges = hold(biRdd.partitionBy(p).persist(sl))
    var labels = keyed(
      vertices.select(col("file_id"), col("file_id").as("cluster_id")))
    var frontier = labels
    var iter = 0

    resumableSnapshot(durable, maxIterations, lineageToken).foreach {
      case (io, i) =>
        val snap = io.read(snapshotStage(i))
        labels = keyed(snap.select("file_id", "cluster_id"))
        frontier = keyed(snap.where(col("in_frontier"))
          .select("file_id", "cluster_id"))
        iter = i
    }

    var done = false
    while (!done && iter < maxIterations) {
      val acc = spark.sparkContext.longAccumulator(s"cc_changed_$iter")
      // 1. propagation: frontier labels to neighbors (narrow: edges and
      // frontier share p), min per neighbor, then candidate = min(own,
      // messages) via a narrow merge against the co-partitioned labels
      val msgs = edges.join(frontier, p)
        .map { case (_, (dst, lab)) => (dst, lab) }
        .reduceByKey(p, (a: Long, b: Long) => math.min(a, b))
      val cand = labels.leftOuterJoin(msgs, p)
        .mapValues { case (old, m) =>
          (old, math.min(old, m.getOrElse(old))) }
      // 2. pointer jumping — non-root parents only (see the DataFrame
      // loop's comment; the rules are identical)
      val parents = cand
        .filter { case (id, (_, c)) => c != id }
        .mapValues(_._2)
      val next = cand
        .map { case (id, (old, c)) => (c, (id, old)) }
        .partitionBy(p)
        .leftOuterJoin(parents, p)
        .map { case (c, ((id, old), pc)) =>
          val nl = pc.getOrElse(c)
          if (nl != old) acc.add(1L)
          (id, (nl, nl != old))
        }
        .partitionBy(p)
        .localCheckpoint()
      hold(next)
      next.count() // ONE materialization per round
      release(edges, next)
      done = acc.value == 0L
      labels = next.mapValues(_._1)
      frontier = next.filter(_._2._2).mapValues(_._1)
      iter += 1

      durable.foreach { case (io, k) =>
        if (!done && iter % k == 0) {
          val snap = io.stage(snapshotStage(iter),
            metadata = Map("lineage" -> lineageToken)) {
            next.map { case (id, (cid, ch)) => (id, cid, ch) }
              .toDF("file_id", "cluster_id", "in_frontier")
          }
          labels = keyed(snap.select("file_id", "cluster_id"))
          frontier = keyed(snap.where(col("in_frontier"))
            .select("file_id", "cluster_id"))
          dropSupersededSnapshots(io, iter)
        }
      }
    }
    if (done) durable.foreach { case (io, _) =>
      dropAllSnapshots(io, maxIterations)
    }
    // keep what the result reads: `labels` itself (a keyed copy) or its
    // parent (the last round's checkpointed `next`); the edge copies and
    // the caller's edge checkpoint are no longer read by anything
    release(labels +: labels.dependencies.map(_.rdd): _*)
    biEdges.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(false))
    (labels.toDF("file_id", "cluster_id"), iter)
  }
}
