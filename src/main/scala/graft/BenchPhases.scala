package graft

import graft.pipeline.{ExtractJob, PagesGen}

/** The raw thread-pool extraction ceiling that `Bench` and perfbench compare
  * the Spark job against. */
object BenchPhases {

  /** Pre-decoded pages for the raw thread-pool ceiling (no Spark anywhere).
    * `heavy` must match the corpus the Spark side is benched on, or the
    * `spark_vs_ceiling` ratio compares different per-doc work. */
  def rawCeilingDocs(n: Int, heavy: Boolean = false): Array[(String, String)] =
    (0 until n).map { i =>
      val p = PagesGen.makePage(i.toLong, heavy)
      (p.url, ExtractJob.decodeHtml(p.html))
    }.toArray

  /** Wall seconds for one full extraction pass of `docs` on a bare
    * FixedThreadPool — the single-box throughput ceiling the Spark plan is
    * compared against (`spark_vs_ceiling` in the bench JSON): same per-row
    * function, no scheduler, no shuffle, no encoders. */
  def rawPoolSec(docs: Array[(String, String)], threads: Int): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val t0 = System.nanoTime()
      val futs = docs.grouped(math.max(1, docs.length / (threads * 4))).map { batch =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            var n = 0L
            batch.foreach { case (u, h) => n += graft.pipeline.ScrapePipeline.scrapeHtml(h, u).word_count }
            n
          }
        })
      }.toVector
      futs.foreach(_.get())
      (System.nanoTime() - t0) / 1e9
    } finally pool.shutdown() // non-daemon threads must not outlive a failed run
  }
}
