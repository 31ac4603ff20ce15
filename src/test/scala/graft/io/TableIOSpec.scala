package graft.io

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper

/** TableIO commit protocol: observe()-collected manifest metrics, resume
  * semantics, invalidation.
  */
class TableIOSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-tableio").toString

  test("stage commit writes a manifest with observed metrics") {
    import spark.implicits._
    val io = new TableIO(spark, tmpDir())
    var computed = 0
    val df = io.stage("nums") {
      computed += 1
      (1 to 100).toDF("n")
    }
    assert(computed == 1)
    assert(df.count() == 100)
    val m = io.manifest("nums").get
    assert(m.contains("\"rows\":100"), m)
    assert(m.contains("\"files\":"), m)
    assert(m.contains("\"bytes\":"), m)
    assert(m.contains("\"file_bytes\""), m)

    // resume: compute must NOT run again
    val again = io.stage("nums") {
      computed += 1
      (1 to 5).toDF("n")
    }
    assert(computed == 1, "resume must not recompute a committed stage")
    assert(again.count() == 100)

    // invalidate forces recompute
    io.invalidate("nums")
    assert(!io.isCommitted("nums"))
    val fresh = io.stage("nums") {
      computed += 1
      (1 to 5).toDF("n")
    }
    assert(computed == 2)
    assert(fresh.count() == 5)
  }

  test("partitionBy lays out hive partitions and pruning reaches the scan") {
    import spark.implicits._
    val root = tmpDir()
    val io = new TableIO(spark, root)
    val df = io.stage("by_lang", partitionBy = Seq("lang")) {
      Seq((1L, "scala"), (2L, "java"), (3L, "scala"), (4L, "rust"))
        .toDF("id", "lang")
    }
    assert(df.count() == 4)
    // hive-style partition directories on disk
    val dirs = new java.io.File(s"$root/by_lang").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("lang=scala", "lang=java", "lang=rust"), dirs)
    // a language filter becomes a PartitionFilter (storage-level pruning),
    // not a post-scan row filter
    val plan = io.read("by_lang").where($"lang" === "scala")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
    assert(io.read("by_lang").where($"lang" === "scala").count() == 2)
    // partitioned stages record no schema: the read infers it
    val m = io.manifest("by_lang").get
    assert(!m.contains("schema_b64"), m)
    assert(io.read("by_lang").select("id", "lang").as[(Long, String)]
      .collect().sortBy(_._1).toSeq ==
      Seq((1L, "scala"), (2L, "java"), (3L, "scala"), (4L, "rust")))
  }

  test("a stage whose upstream recomputed after it is not resumed") {
    import spark.implicits._
    val io = new TableIO(spark, tmpDir())
    io.stage("a") { (1 to 3).toDF("n") }
    var bComputes = 0
    def computeB() = io.stage("b", upstream = Seq("a")) {
      bComputes += 1
      io.read("a")
    }
    computeB()
    computeB()
    assert(bComputes == 1, "b with an unchanged upstream must resume")
    // upstream invalidated and recomputed under the same root: resuming b
    // would silently pair it with data it was not computed from
    io.invalidate("a")
    io.stage("a") { (1 to 7).toDF("n") }
    val b2 = computeB()
    assert(bComputes == 2, "b must recompute after its upstream moved")
    assert(b2.count() == 7)
  }

  test("staleness is judged by opaque commit tokens, not wall-clock order") {
    import spark.implicits._
    val io = new TableIO(spark, tmpDir())
    io.stage("a") { (1 to 3).toDF("n") }
    val tok1 = io.committedToken("a")
    assert(tok1.exists(_.nonEmpty), "every commit must mint a token")
    io.stage("b", upstream = Seq("a")) { io.read("a") }
    // the downstream manifest records the upstream token it was computed
    // against — the equality the guard compares
    val mb = io.manifest("b").get
    assert(mb.contains("\"upstream_tokens\":{\"a\":\"" + tok1.get + "\"}"), mb)
    // recommit the upstream back-to-back (same wall-clock millisecond is
    // possible — the failure mode Instant ordering could not see): the
    // token MUST change and the downstream MUST recompute
    io.invalidate("a")
    io.stage("a") { (1 to 9).toDF("n") }
    val tok2 = io.committedToken("a")
    assert(tok2.isDefined && tok2 != tok1,
      "a recommit must mint a DIFFERENT token")
    var recomputed = false
    val b2 = io.stage("b", upstream = Seq("a")) {
      recomputed = true; io.read("a")
    }
    assert(recomputed, "token mismatch must invalidate the downstream")
    assert(b2.count() == 9)
  }

  test("manifest-unsafe metadata and stage names are rejected at stage()") {
    import spark.implicits._
    val io = new TableIO(spark, tmpDir())
    // '}' in a value would end the metadata object scan early; '"' would
    // truncate the capture — both must fail loudly instead of committing
    // a manifest later reads return wrong values from
    intercept[IllegalArgumentException] {
      io.stage("m1", metadata = Map("k" -> "v}x")) { (1 to 2).toDF("n") }
    }
    intercept[IllegalArgumentException] {
      io.stage("m2", metadata = Map("k\"" -> "v")) { (1 to 2).toDF("n") }
    }
    intercept[IllegalArgumentException] {
      io.stage("bad\"name") { (1 to 2).toDF("n") }
    }
    // safe metadata round-trips exactly
    io.stage("m3", metadata = Map("lineage" -> "tok-1", "z" -> "2")) {
      (1 to 2).toDF("n")
    }
    assert(io.metadataOf("m3", "lineage").contains("tok-1"))
    assert(io.metadataOf("m3", "z").contains("2"))
  }

  test("a metadata key equal to an upstream name reads the metadata value, not the token") {
    import spark.implicits._
    val io = new TableIO(spark, tmpDir())
    io.stage("edges") { (1 to 3).toDF("n") }
    io.stage("s", upstream = Seq("edges"),
      metadata = Map("edges" -> "v1")) { io.read("edges") }
    // the metadata scan anchors at "metadata":{ which sits AFTER the
    // upstream_tokens object and cannot cross its closing brace — a key
    // shadowing an upstream name must still read its own value
    assert(io.metadataOf("s", "edges").contains("v1"))
    val tok = io.committedToken("edges").get
    val m = io.manifest("s").get
    assert(m.contains("\"upstream_tokens\":{\"edges\":\"" + tok + "\"}"), m)
  }

  test("pre-token manifests fall back to wall-clock staleness") {
    import spark.implicits._
    val root = tmpDir()
    val io = new TableIO(spark, root)
    io.stage("a") { (1 to 3).toDF("n") }
    io.stage("b", upstream = Seq("a")) { io.read("a") }
    // rewrite both manifests to the PRE-TOKEN format (no commit_token /
    // upstream_tokens) with controlled commit instants
    def degrade(stage: String, at: String): Unit = {
      val p = java.nio.file.Paths.get(root, s"$stage.manifest.json")
      var m = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      m = m.replaceAll("\"commit_token\":\"[^\"]*\",", "")
      m = m.replaceAll("\"upstream_tokens\":\\{[^}]*\\},", "")
      m = m.replaceAll("\"committed_at\":\"[^\"]+\"",
        "\"committed_at\":\"" + at + "\"")
      java.nio.file.Files.write(p, m.getBytes("UTF-8"))
      // drop the Hadoop LocalFileSystem checksum sidecar the out-of-band
      // rewrite just invalidated
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(root, s".$stage.manifest.json.crc"))
    }
    // upstream recommitted AFTER the downstream (what the removed
    // Instant ordering used to catch): must recompute, not resume
    degrade("a", "2026-01-02T00:00:00Z")
    degrade("b", "2026-01-01T00:00:00Z")
    var recomputed = false
    io.stage("b", upstream = Seq("a")) { recomputed = true; io.read("a") }
    assert(recomputed, "old-format stale downstream must recompute")
    // b is now new-format but a still has no token: the downstream is
    // newer than the old-format upstream, so it resumes
    var again = false
    io.stage("b", upstream = Seq("a")) { again = true; io.read("a") }
    assert(!again, "downstream newer than old-format upstream must resume")
  }

  test("upstream lineage is recorded") {
    import spark.implicits._
    val io = new TableIO(spark, tmpDir())
    io.stage("a") { (1 to 3).toDF("n") }
    io.stage("b", upstream = Seq("a")) { io.read("a") }
    val m = io.manifest("b").get
    assert(m.contains("\"upstream\":[\"a\"]"), m)
  }
}
