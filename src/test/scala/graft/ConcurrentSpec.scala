package graft

import org.apache.spark.sql.functions._
import graft.operators.Concurrent

/** The driver-overlap helper's contract, pinned (r17 VERDICT items):
  * no-zombie failure semantics for NON-FATAL and FATAL errors alike,
  * the timeout hang-breaker, input-order results, and the
  * shared-lineage seed (`emptyLike`) whose violation produced r17's
  * torn-row corruption (interpreted HOF lambdas evaluated driver-side
  * on two threads over a shared LocalRelation subtree). */
class ConcurrentSpec extends SparkSpec {
  import scala.concurrent.duration._

  test("inParallel returns results in input order") {
    val out = Concurrent.inParallel(Seq(
      () => { Thread.sleep(50); "slow" },
      () => "fast",
      () => { Thread.sleep(20); "mid" }))
    assert(out == Seq("slow", "fast", "mid"))
  }

  test("inParallel awaits every sibling before rethrowing a NON-FATAL failure") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[RuntimeException] {
      Concurrent.inParallel(Seq(
        () => { throw new RuntimeException("first failure") },
        () => { Thread.sleep(300); slowDone.set(true); () }))
    }
    assert(e.getMessage == "first failure")
    // "when this returns or throws, nothing is still running": the
    // slow sibling must have COMPLETED before the rethrow
    assert(slowDone.get(),
      "sibling thunk was still in flight when inParallel threw")
  }

  test("inParallel awaits every sibling before rethrowing a FATAL error " +
    "(regression: Future.sequence fail-fast left zombies)") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    // a fatal (non-NonFatal) throwable escapes the inner Try and fails
    // the future itself — the pre-fix sequence-then-result await
    // rethrew it while siblings were still committing
    val e = intercept[java.lang.AssertionError] {
      Concurrent.inParallel(Seq(
        () => { throw new java.lang.AssertionError("fatal in thunk") },
        () => { Thread.sleep(300); slowDone.set(true); () }))
    }
    assert(e.getMessage == "fatal in thunk")
    assert(slowDone.get(),
      "sibling thunk was still in flight when the fatal error surfaced")
  }

  test("inParallel's first failure IN INPUT ORDER wins, not the first to fail") {
    val e = intercept[RuntimeException] {
      Concurrent.inParallel(Seq(
        () => { Thread.sleep(200); throw new RuntimeException("input-first") },
        () => { throw new RuntimeException("clock-first") }))
    }
    assert(e.getMessage == "input-first")
  }

  test("inParallel timeout is a hang-breaker, not a silent hang") {
    val t0 = System.nanoTime()
    intercept[java.util.concurrent.TimeoutException] {
      Concurrent.inParallel(Seq[() => Unit](
        () => Thread.sleep(60000),
        () => ()), timeout = 500.millis)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30.0, s"timeout path took ${secs}s — did not break the hang")
  }

  test("inParallel timeout carries already-failed siblings as suppressed") {
    val e = intercept[java.util.concurrent.TimeoutException] {
      Concurrent.inParallel(Seq[() => Unit](
        () => Thread.sleep(60000),
        () => throw new IllegalStateException("root cause")),
        timeout = 500.millis)
    }
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("root cause"),
      "the sibling's earlier failure was masked by the timeout")
  }

  test("a malformed timeout property falls back to the default") {
    val key = "graft.concurrent.timeout.seconds"
    val before = sys.props.get(key)
    try {
      sys.props(key) = "90s" // a typo: not a whole number of seconds
      assert(Concurrent.defaultTimeout == 86400.seconds)
      sys.props(key) = " 120 "
      assert(Concurrent.defaultTimeout == 120.seconds)
      // and every call site still works under the typo
      sys.props(key) = "oops"
      assert(Concurrent.inParallel(Seq(() => 1, () => 2)) == Seq(1, 2))
    } finally before match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
  }

  test("emptyLike shares NO logical subtree with its source " +
    "(the torn-row seed contract)") {
    import spark.implicits._
    // the r17 corruption shape: a LocalRelation input whose plan holds
    // interpreted higher-order-function lambdas (instance-held slots)
    val src = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0)))
      .toDF("id", "vec")
      .withColumn("scaled", transform(col("vec"), x => x * 2.0))
    val seed = Concurrent.emptyLike(src)
    assert(seed.schema == src.schema)
    assert(seed.isEmpty)
    // structural independence: none of the source plan's expression
    // trees appear under the seed's plan (an RDD scan of an empty RDD)
    val srcNodes = src.queryExecution.logical.collect { case n => n }.toSet
    val seedNodes = seed.queryExecution.logical.collect { case n => n }.toSet
    assert(seedNodes.intersect(srcNodes).isEmpty,
      "emptyLike's plan shares nodes with the source plan")
    // and the seed must not be a Project/Limit over the source the way
    // df.limit(0) is — its leaf is an external-RDD scan
    val leaves = seed.queryExecution.logical.collectLeaves()
    assert(leaves.forall(_.getClass.getSimpleName.contains("LogicalRDD")),
      s"seed leaf is ${leaves.map(_.getClass.getSimpleName).mkString(",")}")
  }
}
