package graft.tools

/** Pure-CPU host-window quality probe: N-thread Phonex encode throughput,
  * no Spark involved — so a degraded host window (noisy neighbor,
  * descheduled vCPUs) is distinguishable from an engine regression.
  * [[probe]] is reused by [[graft.Bench]] to stamp every official bench
  * JSON with the host capacity AT measurement time.
  */
object WindowProbe {

  private lazy val toks: Array[String] = {
    val base = graft.pipeline.NameFixtures.families.flatten
      .map(_.filter(_.isLetter).toLowerCase)
    (0 until 10000).map(i => base(i % base.length) + (i % 97)).toArray
  }

  /** One timed N-thread encode run (encodes/sec), no warm-up — the shared
    * primitive under [[probe]] and ScalingBench's hardware-ceiling table,
    * so the two reports measure the identical workload.
    */
  def rate(nThreads: Int, perThread: Int): Double = mt(nThreads, perThread)

  private def mt(nThreads: Int, perThread: Int): Double = {
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        var k = 0
        while (k < perThread) {
          graft.phonetic.Phonex.default.encode(toks((k + t) % toks.length))
          k += 1
        }
      })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start()); threads.foreach(_.join())
    nThreads.toLong * perThread / ((System.nanoTime() - t0) / 1e9)
  }

  /** Best-of-`reps` N-thread encode rate (encodes/sec), after an untimed
    * warm rep. Callers should `Bench.warmCpus` first if the host was idle.
    */
  def probe(nThreads: Int, reps: Int = 3, perThread: Int = 1000000): Long = {
    mt(nThreads, math.min(perThread, 300000)) // warm
    (1 to reps).map(_ => mt(nThreads, perThread)).max.toLong
  }
}
