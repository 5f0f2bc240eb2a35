package graft

import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every registered query must run and return rows on the smoke fixture,
  * and every oracle entry must point at a registered query. No query may
  * leave a streaming query running or a bounded-stream scratch root behind.
  */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Live stream execution threads. `spark.streams.active` misses the
    * queries of `newSession()` clones; every query runs on one such
    * thread, and `stop()` joins it.
    */
  private def streamThreads(): Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(_.startsWith("stream execution thread for")).toSet

  private def streamRoots(): Set[String] =
    Option(new java.io.File(sys.props("java.io.tmpdir")).list()).toSet.flatten
      .filter(_.startsWith("graft-stream-"))

  /** Runs `body`, then asserts it left no stream thread and no root. */
  private def assertNoLeaks(body: => Unit): Unit = {
    val (threads0, roots0) = (streamThreads(), streamRoots())
    body
    val threads = streamThreads() -- threads0
    val roots = streamRoots() -- roots0
    assert(threads.isEmpty, s"stream threads left running: $threads")
    assert(roots.isEmpty, s"scratch roots left behind: $roots")
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are all registered queries") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracle entries without queries: $unknown")
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs with rows > 0 on sf0.001") {
      assertNoLeaks {
        assert(fn(spark, TestSpark.sf).count() > 0, s"$name returned 0 rows")
      }
    }
  }

  test("a bounded stream that throws mid-drain leaks no query and no root") {
    assertNoLeaks {
      val e = intercept[StreamingQueryException] {
        streaming.BoundedStream.run(spark, "throws") { s =>
          s.drain(s.session.readStream.format("graft.sources.v2.SeqStreamSource")
            .option("n", "3000").option("step", "1000").option("parts", "2").load()
            .writeStream
            .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
              if (id == 1) throw new IllegalStateException("batch 1 fails")
            })
        }
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("batch 1 fails")))
    }
  }
}
