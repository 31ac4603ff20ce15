package graft.io

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Iceberg-shaped checkpoint layer over parquet (no Iceberg jar ships in
  * this environment — see SURVEY.md §7): every stage commit is
  * write-to-temp + filesystem rename + JSON snapshot manifest, so a killed
  * job resumes from the last committed snapshot and a half-written stage
  * is never read. Swap [[TableIO]] for a real Iceberg catalog by replacing
  * this one class.
  *
  * Cluster-real I/O: all paths go through the Hadoop [[FileSystem]] API,
  * so the same code runs on HDFS (atomic dir rename), S3A (copy-rename),
  * or local disk — not java.nio, which only exists on the driver's local
  * filesystem. Metrics are collected DURING the write via `observe()`
  * (row count in one pass, no second scan) plus parquet file sizes from
  * directory metadata; nothing re-reads committed data.
  */
final class TableIO(spark: SparkSession, root: String) {

  private val rootPath = new Path(root)
  private val fs: FileSystem =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  fs.mkdirs(rootPath)

  private def stageDir(stage: String): Path = new Path(rootPath, stage)
  private def manifestPath(stage: String): Path =
    new Path(rootPath, s"$stage.manifest.json")

  def isCommitted(stage: String): Boolean = fs.exists(manifestPath(stage))

  /** Committed schema from the stage manifest (recorded at commit for
    * unpartitioned stages), so [[read]] skips the per-read footer
    * schema-inference pass — the catalog role Iceberg metadata plays.
    * Base64-wrapped because raw schema JSON carries every character the
    * manifest format forbids. Partitioned stages record no schema (older
    * manifests an empty one), so their reads infer it.
    */
  private def committedSchema(stage: String): Option[org.apache.spark.sql.types.StructType] =
    manifest(stage).flatMap { m =>
      "\"schema_b64\":\"([A-Za-z0-9+/=]+)\"".r.findFirstMatchIn(m)
        .map(_.group(1))
    }.map { b64 =>
      org.apache.spark.sql.types.DataType
        .fromJson(new String(
          java.util.Base64.getDecoder.decode(b64), StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  def read(stage: String): DataFrame =
    committedSchema(stage) match {
      case Some(s) => spark.read.schema(s).parquet(stageDir(stage).toString)
      case None => spark.read.parquet(stageDir(stage).toString)
    }

  /** Run `compute` and commit its result as `stage`, unless a committed
    * snapshot already exists (resume path). Returns the stage DataFrame.
    *
    * Staleness guard: every commit mints an opaque `commit_token`
    * (UUID), and a downstream stage records the tokens of its named
    * `upstream` stages in its own manifest at commit time. On resume the
    * recorded tokens are compared BY EQUALITY against the upstreams'
    * current tokens — an upstream that was invalidated and recomputed
    * under the same root (by this driver, a restarted one, or a second
    * writer host) therefore always invalidates the downstream, with no
    * dependence on wall-clock ordering across machines (clock skew or a
    * same-instant recommit cannot make a stale stage look fresh). Stale
    * stages are invalidated and recomputed. (Non-stage upstream entries
    * have no manifest on either side of the comparison and are ignored.)
    */
  def stage(
      stage: String,
      upstream: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil,
      metadata: Map[String, String] = Map.empty)(
      compute: => DataFrame): DataFrame = {
    requireManifestSafe("stage name", stage)
    upstream.foreach(requireManifestSafe("upstream name", _))
    metadata.foreach { case (k, v) =>
      requireManifestSafe("metadata key", k)
      requireManifestSafe(s"metadata value of '$k'", v)
    }
    if (isCommitted(stage)) {
      val stale = upstream.exists { u =>
        (committedToken(u), upstreamTokenOf(stage, u)) match {
          case (None, None) =>
            // either a non-stage upstream entry (no manifest on either
            // side — fresh), or a PRE-TOKEN manifest pair written by an
            // older build: fall back to the wall-clock ordering those
            // manifests do carry, judging same-or-later upstream
            // commits stale (conservative: recompute beats silently
            // resuming against a recomputed upstream)
            (committedAt(u), committedAt(stage)) match {
              case (Some(up), Some(down)) =>
                !java.time.Instant.parse(up)
                  .isBefore(java.time.Instant.parse(down))
              case _ => false
            }
          // any other mismatch — recomputed upstream (different token),
          // upstream invalidated since (Some -> None), or upstream
          // committed where none existed when this stage ran
          // (None -> Some) — is stale
          case (a, b) => a != b
        }
      }
      if (!stale) return read(stage)
      invalidate(stage)
    }

    val t0 = System.nanoTime()
    val df = compute
    val tmp = new Path(rootPath, s"_tmp_$stage")
    fs.delete(tmp, true)

    // lineage counters collected DURING the write — one pass, no re-read
    val obs = Observation(s"graft_${stage}_${System.nanoTime()}")
    val observed = df.observe(obs, count(lit(1)).as("rows"))
    var writer = observed.write.mode("overwrite")
    if (partitionBy.nonEmpty)
      writer = writer.partitionBy(partitionBy: _*)
    writer.parquet(tmp.toString)
    val rows = obs.get("rows").asInstanceOf[Long]

    // per-file stats from directory METADATA (no data scan): file count
    // approximates output partitions, byte histogram evidences skew
    val files = listParquetFiles(tmp)
    val sizes = files.map(_.getLen).sorted
    val nFiles = sizes.length
    val totalBytes = sizes.sum

    fs.delete(stageDir(stage), true)
    if (!fs.rename(tmp, stageDir(stage)))
      throw new java.io.IOException(
        s"commit rename failed for stage '$stage' ($tmp -> ${stageDir(stage)})")

    val elapsedMs = (System.nanoTime() - t0) / 1000000
    val metaJson = metadata.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString(",")
    // committed schema (unpartitioned stages only: an explicit schema on
    // a partitioned read would reorder partition columns vs inference,
    // and hive-partitioned stages keep the inference path)
    val schemaField =
      if (partitionBy.isEmpty)
        "\"schema_b64\":\"" + java.util.Base64.getEncoder.encodeToString(
          df.schema.json.getBytes(StandardCharsets.UTF_8)) + "\","
      else ""
    // opaque per-commit identity + the upstream tokens this output was
    // computed against — the staleness guard compares these by equality
    val commitToken = java.util.UUID.randomUUID().toString
    val upTokens = upstream.sorted.distinct
      .flatMap(u => committedToken(u).map(t => "\"" + u + "\":\"" + t + "\""))
      .mkString(",")
    val manifest =
      s"""{"stage":"$stage","rows":$rows,"files":$nFiles,
         |"bytes":$totalBytes,
         |"file_bytes":{"min":${if (nFiles == 0) 0L else sizes.head},
         |"mean":${if (nFiles == 0) 0L else totalBytes / nFiles},
         |"max":${if (nFiles == 0) 0L else sizes.last}},
         |"rows_per_sec":${if (elapsedMs == 0) 0 else rows * 1000 / elapsedMs},
         |"upstream":[${upstream.map(u => "\"" + u + "\"").mkString(",")}],
         |"upstream_tokens":{$upTokens},
         |"commit_token":"$commitToken",
         |$schemaField"metadata":{$metaJson},
         |"elapsed_ms":$elapsedMs,
         |"committed_at":"${java.time.Instant.now()}"}""".stripMargin
    val tmpManifest = new Path(rootPath, s"_tmp_$stage.manifest.json")
    val out = fs.create(tmpManifest, true)
    try out.write(manifest.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmpManifest, manifestPath(stage)))
      throw new java.io.IOException(
        s"manifest rename failed for stage '$stage'")
    read(stage)
  }

  private def listParquetFiles(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val it = fs.listFiles(dir, true)
    val buf = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) buf += f
    }
    buf.result()
  }

  /** Drop a stage (and force recompute on next run). */
  def invalidate(stage: String): Unit = {
    fs.delete(manifestPath(stage), false)
    fs.delete(stageDir(stage), true)
  }

  /** Committed row count from the stage manifest — lineage metadata
    * recorded during the write, so downstream stages that need a
    * cardinality (e.g. document-frequency caps) read a number instead of
    * launching a count job over committed data.
    */
  def committedRows(stage: String): Option[Long] =
    manifest(stage).flatMap { m =>
      "\"rows\":(\\d+)".r.findFirstMatchIn(m).map(_.group(1).toLong)
    }

  /** Commit timestamp from the stage manifest — distinct per commit, so it
    * doubles as a cheap input-lineage token: downstream durable state (e.g.
    * connected-components loop snapshots) stamps itself with the upstream
    * stage's `committedAt` and refuses to resume if the upstream has been
    * recomputed since.
    */
  def committedAt(stage: String): Option[String] =
    manifest(stage).flatMap { m =>
      "\"committed_at\":\"([^\"]+)\"".r.findFirstMatchIn(m).map(_.group(1))
    }

  /** Opaque identity of a stage's current commit (a fresh UUID per
    * commit). Downstream durable state records this and refuses to
    * resume on mismatch — unlike [[committedAt]] ordering, equality of
    * opaque tokens is immune to clock skew between writers and to two
    * commits landing on the same instant.
    */
  def committedToken(stage: String): Option[String] =
    manifest(stage).flatMap { m =>
      "\"commit_token\":\"([^\"]*)\"".r.findFirstMatchIn(m).map(_.group(1))
    }

  /** The upstream commit token recorded in `stage`'s manifest when it was
    * computed (absent for non-stage upstream entries and for upstreams
    * that were uncommitted at the time).
    */
  private def upstreamTokenOf(stage: String, up: String): Option[String] =
    manifest(stage).flatMap { m =>
      ("\"upstream_tokens\":\\{[^}]*\"" +
        java.util.regex.Pattern.quote(up) +
        "\":\"([^\"]*)\"").r.findFirstMatchIn(m).map(_.group(1))
    }

  /** A caller-supplied metadata value recorded at commit time (e.g. the
    * input-lineage token the connected-components loop snapshots stamp
    * themselves with). Keys and values are validated at [[stage]] time
    * to contain none of `"`/`}`/`\` — the characters that would derail
    * this single-object scan — so the regex parse is sound for every
    * manifest this class can produce.
    */
  def metadataOf(stage: String, key: String): Option[String] =
    manifest(stage).flatMap { m =>
      ("\"metadata\":\\{[^}]*\"" + java.util.regex.Pattern.quote(key) +
        "\":\"([^\"]*)\"").r.findFirstMatchIn(m).map(_.group(1))
    }

  /** Reject strings that would break the manifest's JSON layout or its
    * regex readers: '"' and '\' corrupt/escape string literals, '}' ends
    * the single-level object scans early. Stage names double as
    * filesystem path segments, so '/' is rejected there implicitly by
    * the same contract (callers use flat names).
    */
  private def requireManifestSafe(what: String, s: String): Unit =
    require(!s.exists(c => c == '"' || c == '\\' || c == '}'),
      s"""$what "$s" contains one of the manifest-unsafe characters """ +
        """'"', '\', '}'""")

  def manifest(stage: String): Option[String] =
    if (isCommitted(stage)) {
      val in = fs.open(manifestPath(stage))
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8))
      finally in.close()
    } else None
}
