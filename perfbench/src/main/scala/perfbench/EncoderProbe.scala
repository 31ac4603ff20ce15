package perfbench

import java.util.SplittableRandom

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.phonetic._
import graft.phonetic.bm.BeiderMorse

/** Encoder-layer probe of a traced run: forced projections over a seeded
  * token stream cached in memory (no shuffle, no IO) give
  * `functions.<enc>.rows_per_s`; single-thread calls of the same
  * `graft.phonetic` encoders without Spark give
  * `phonetic.<enc>.encodes_per_s`, so the two isolate the expression
  * overhead. The code columns on the distinct tokens are checked against
  * the driver-side encoders.
  */
object EncoderProbe {
  val PoolSize = 10000
  val EncRows = 200000L
  val BmRows = 16000L
  val PairRows = 500000L
  private val Mult = 2654435761L

  private val Onsets = Seq("b", "c", "ch", "ck", "d", "f", "g", "gh", "h", "j",
    "k", "kn", "l", "m", "n", "p", "ph", "qu", "r", "s", "sch", "sh", "st",
    "t", "th", "tz", "v", "w", "wr", "x", "y", "z")
  private val Vowels = Seq("a", "e", "i", "o", "u", "y", "ai", "au", "ee",
    "ei", "ie", "ou", "oe")
  private val Codas = Seq("", "", "", "n", "r", "s", "l", "m", "ck", "gh",
    "nd", "rt", "tz", "x", "dt")

  /** `n` distinct lowercase name-like tokens: the fixture names first, then
    * seeded syllable names of two to four syllables.
    */
  def tokenPool(seed: Long, n: Int): Array[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    graft.pipeline.NameFixtures.families.flatten
      .map(_.filter(_.isLetter).toLowerCase).filter(_.nonEmpty)
      .foreach(t => if (out.size < n) out += t)
    val r = new SplittableRandom(seed)
    def pick(xs: Seq[String]) = xs(r.nextInt(xs.length))
    while (out.size < n)
      out += (0 until 2 + r.nextInt(3))
        .map(_ => pick(Onsets) + pick(Vowels) + pick(Codas)).mkString
    out.toArray
  }

  private val ArrayValued = Set("double_metaphone", "dm_soundex")

  /** Code lengths (array sizes for the array-valued encoders), summed so no
    * encoder can be pruned from the projection.
    */
  def encoderWeight(t: Column, encoders: Seq[String]): Column =
    encoders.map { e =>
      val c = call_function(s"graft_$e", t)
      coalesce(if (ArrayValued(e)) size(c) else length(c), lit(0))
    }.reduce(_ + _).cast("double")

  def bmWeight(t: Column): Column = {
    val codes = call_function("graft_bm_codes", t)
    (size(codes) + aggregate(codes, lit(0), (acc, x) => acc + length(x)))
      .cast("double")
  }

  val scoreWeight: Column =
    (col("jaro_winkler") + col("lev") + col("mra_rating") +
      col("soundex_diff") + col("mra_match").cast("int") +
      col("metaphone_eq").cast("int")).cast("double")

  /** Per-partition sums of the double column 0, reduced on the driver:
    * one job, no exchange.
    */
  def checksum(rdd: RDD[InternalRow]): Double =
    rdd.mapPartitions { it =>
      var s = 0.0
      while (it.hasNext) s += it.next().getDouble(0)
      Iterator(s)
    }.reduce(_ + _)

  /** Driver-side `graft.phonetic` encoder behind each function, rendered
    * as the projection casts it to string (arrays as `[a, b]`).
    */
  val Driver: Map[String, String => String] = Map(
    "soundex" -> (s => Soundex.default.encode(s)),
    "refined_soundex" -> (s => RefinedSoundex.default.encode(s)),
    "metaphone" -> (s => Metaphone(Some(4)).encode(s)),
    "double_metaphone" -> { s =>
      val r = DoubleMetaphone.default.doubleMetaphone(s)
      s"[${r.primary}, ${r.alternate}]"
    },
    "nysiis" -> (s => Nysiis.default.encode(s)),
    "phonex" -> (s => Phonex.default.encode(s)),
    "cologne" -> (s => Cologne.encode(s)),
    "caverphone1" -> (s => Caverphone1.encode(s)),
    "caverphone2" -> (s => Caverphone2.encode(s)),
    "mra_encode" -> (s => MatchRatingApproach.encode(s)),
    "dm_soundex" -> (s =>
      DaitchMokotoff.default.innerSoundex(s, branching = true).mkString("[", ", ", "]")),
    "dm_encode" -> (s => DaitchMokotoff.default.encode(s)),
    "bm_codes" -> (s =>
      BeiderMorse.splitCodes(BeiderMorse.default.encode(s)).mkString("[", ", ", "]")))

  private val Probed: Seq[String] = Layers.Encoders :+ "bm_codes"

  /** Every code column of the pool, from Spark, equals the driver-side
    * encoders' output.
    */
  def codesMatch(spark: SparkSession, pool: Array[String]): Boolean = {
    import spark.implicits._
    val got = pool.toSeq.toDF("token")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("token") +: Probed.map(e =>
        call_function(s"graft_$e", col("token")).cast("string")): _*)
      .collect().map(r => r.getString(0) -> (1 until r.length).map(r.getString))
    got.length == pool.length && got.forall { case (t, codes) =>
      codes == Probed.map(e => Driver(e)(t))
    }
  }

  /** Single-thread calls per second over the pool, after a short warm loop. */
  def singleThreadRate(pool: Array[String], f: String => String): Double = {
    var sink = 0
    def loop(nanos: Long): Double = {
      val t0 = System.nanoTime()
      var calls = 0L
      while (System.nanoTime() - t0 < nanos) {
        var j = 0
        while (j < 64) {
          sink += f(pool(((calls + j) % pool.length).toInt)).length
          j += 1
        }
        calls += 64
      }
      calls / ((System.nanoTime() - t0) / 1e9)
    }
    loop(100000000L)
    val rate = loop(300000000L)
    if (sink == 42) println(sink)
    rate
  }

  /** Token streams over the seeded pool, cached in memory. */
  private def streams(spark: SparkSession, pool: Array[String],
      seed: Long): Seq[DataFrame] = {
    val p = typedLit(pool.toSeq)
    def token(i: Column) = element_at(p, (i + 1).cast("int"))
    val idx = pmod(col("id") * Mult + lit(Math.floorMod(seed, pool.length.toLong)),
      lit(pool.length))
    def stream(n: Long) = spark.range(0, n, 1, spark.sparkContext.defaultParallelism * 4)
      .select(col("id"), token(idx).as("token"),
        token(pmod(idx * 7 + 13, lit(pool.length))).as("token_b"))
    val out = Seq(
      stream(EncRows).select("token"),
      stream(BmRows).select("token"),
      stream(PairRows).select(col("id").as("src"), (col("id") + 1).as("dst"),
        col("token").as("token_a"), col("token_b")))
      .map(_.persist(StorageLevel.MEMORY_ONLY))
    out.foreach(_.count())
    out
  }

  /** The probe's per-layer metrics, each measurement in its own span, and
    * whether the code columns matched.
    */
  def run(spark: SparkSession, tracer: Tracer, seed: Long): (Map[String, Double], Boolean) = {
    val pool = tokenPool(seed, PoolSize)
    val Seq(enc, bm, pairs) = streams(spark, pool, seed)
    val projections =
      Layers.Encoders.map(e => e -> enc.select(encoderWeight(col("token"), Seq(e)))) ++
        Seq("bm_codes" -> bm.select(bmWeight(col("token"))),
          "score_features" -> pairs.transform(graft.pipeline.Scoring.score)
            .select(scoreWeight))
    val functions = projections.map { case (e, df) =>
      val rdd = df.queryExecution.toRdd
      val rows = rdd.count().toDouble
      checksum(rdd) // codegen + JIT
      val t = tracer.span(s"functions.$e") {
        val t0 = System.nanoTime(); checksum(rdd); (System.nanoTime() - t0) / 1e9
      }
      s"functions.$e.rows_per_s" -> rows / t
    }
    val phonetic = Probed.map { e =>
      s"phonetic.$e.encodes_per_s" -> tracer.span(s"phonetic.$e") {
        singleThreadRate(pool, Driver(e))
      }
    }
    val ok = tracer.span("codes_check")(codesMatch(spark, pool))
    Seq(enc, bm, pairs).foreach(_.unpersist())
    ((functions ++ phonetic :+ ("input.distinct_tokens" -> PoolSize.toDouble)).toMap, ok)
  }
}
