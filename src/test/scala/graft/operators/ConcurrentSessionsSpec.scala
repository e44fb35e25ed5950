package graft.operators

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.util.Try

import graft.{SparkEntry, SparkSpec}

/** The queries that write intermediate tables keep each session's files
  * to itself: two sessions running them at the same moment each get the
  * rows a single session computes alone.
  */
class ConcurrentSessionsSpec extends SparkSpec {

  private val Writers =
    Seq("q_store_roundtrip", "q_benchmark_source", "q_checkpoint_cleanup", "q_ann_pruned")

  test("two sessions on two threads run the writing queries at once; each equals a single-session run") {
    val expected = Writers.map(q => q -> SparkEntry.queries(q)(spark, Sf).collect().toSeq).toMap
    val sessions = Seq.fill(2)(spark.newSession())
    // Both threads start each query together; a failure is recorded, not
    // thrown, so the other thread never waits on a barrier alone.
    val barrier = new CyclicBarrier(sessions.size)
    val pool = Executors.newFixedThreadPool(sessions.size)
    val runs = try {
      val futures = sessions.map { s =>
        pool.submit(() => Writers.map { q =>
          barrier.await(10, TimeUnit.MINUTES)
          q -> Try(SparkEntry.queries(q)(s, Sf).collect().toSeq)
        })
      }
      futures.map(_.get(20, TimeUnit.MINUTES))
    } finally { pool.shutdownNow(); () }
    for ((run, i) <- runs.zipWithIndex; (q, rows) <- run)
      assert(rows.map(_ == expected(q)) == scala.util.Success(true),
        s"session $i, $q: $rows, expected ${expected(q)}")
  }
}
