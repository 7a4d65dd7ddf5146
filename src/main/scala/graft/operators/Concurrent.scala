package graft.operators

/** Driver-side overlap of INDEPENDENT Spark actions (guide §2.6:
  * "actions are only sequential because your driver code calls them
  * sequentially"). A multi-table index create, a multi-surface audit
  * build, or a multi-count verdict row is a chain of small jobs, each
  * with a straggler tail that leaves most executors idle; submitting
  * them from a bounded pool lets the next job's tasks back-fill the
  * freed slots. Used ONLY where the actions are provably independent
  * (different output tables/paths, or pure counts over already-staged
  * state) — never to reorder writes a later read depends on.
  *
  * Failure semantics: ALL thunks are awaited to completion (each
  * wrapped in Try), then the FIRST failure — in input order — is
  * rethrown. Waiting out the stragglers matters: rethrowing while
  * sibling writes are still committing would let a caller's
  * cleanup/retry (drop table, fs delete) race zombie commits for the
  * same locations — the sequential semantics callers rely on is
  * "when this returns or throws, nothing is still running".
  *
  * SHARED-LINEAGE CONTRACT (found as a torn-row corruption in r17's
  * IVF-table spec): two thunks must NOT consume DataFrames that share
  * an UNCACHED, UNCHECKPOINTED logical subtree. Concurrent
  * optimization of both plans can run ConvertToLocalRelation over the
  * SAME expression instances, and interpreted higher-order functions
  * keep their lambda slots in the expression instance — two driver
  * threads evaluating them at once interleave rows (manifest when the
  * shared input is a LocalRelation, i.e. any in-memory fixture).
  * Safe sharing: persisted frames (cache-substituted at plan time),
  * localCheckpointed frames (LogicalRDD), catalog tables, parquet
  * scans. For an empty schema seed use [[emptyLike]], never
  * `df.limit(0)`.
  */
object Concurrent {

  /** An EMPTY frame with `df`'s schema that shares NO logical subtree
    * with `df` — the safe "schema seed" for a parallel write group.
    * `df.limit(0)` keeps the full plan underneath, and two
    * concurrently-optimized plans over shared expression instances
    * race in ConvertToLocalRelation's driver-side interpreted
    * evaluation (instance-held lambda slots in higher-order
    * functions) — torn rows when the shared input is a LocalRelation.
    * Schema access below only ANALYZES `df` (no evaluation). */
  def emptyLike(df: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
  }

  /** Default wall-clock bound for [[inParallel]]: a hang-breaker, not
    * a tuning knob. One wedged job on an unbounded await hangs the
    * whole query forever with no interrupt path; a generous finite
    * default (24 h, override via `-Dgraft.concurrent.timeout.seconds`)
    * keeps every legitimate workload untouched while giving a stuck
    * deployment a loud TimeoutException instead of a silent hang. A
    * value that is not a whole number of seconds falls back to the
    * default with a warning on stderr: a typo in the property must not
    * fail every `inParallel` call site. */
  private[graft] def defaultTimeout: scala.concurrent.duration.Duration = {
    val seconds = sys.props.get("graft.concurrent.timeout.seconds")
      .fold(86400L) { raw =>
        scala.util.Try(raw.trim.toLong).getOrElse {
          System.err.println("[graft] graft.concurrent.timeout.seconds=" +
            s"'$raw' is not a whole number of seconds; using 86400")
          86400L
        }
      }
    scala.concurrent.duration.Duration(seconds,
      java.util.concurrent.TimeUnit.SECONDS)
  }

  /** Run each thunk on its own pooled thread and wait for all;
    * returns results in input order. `parallelism` bounds in-flight
    * jobs (2-4 is plenty: enough to fill stage tails, not so many
    * that tiny jobs fight for executors — guide §2.6).
    *
    * Every future is awaited to COMPLETION (Await.ready, not a
    * fail-fast Future.sequence) before the first failure in input
    * order is rethrown — so the no-zombie guarantee holds for FATAL
    * errors too (an OutOfMemoryError/InterruptedException in one thunk
    * fails its future without being caught by the inner Try; a
    * sequence-then-result await would rethrow it while sibling writes
    * are still committing). The one path that can return with work
    * still running is the `timeout` hang-breaker: it interrupts the
    * pool (shutdownNow) and throws TimeoutException — by then the
    * caller's state is suspect anyway, which is what the exception
    * says. Siblings that had already failed ride on it as suppressed
    * exceptions, so a root cause is not masked by the timeout. */
  def inParallel[T](thunks: Seq[() => T], parallelism: Int = 4,
                    timeout: scala.concurrent.duration.Duration =
                      defaultTimeout): Seq[T] = {
    require(parallelism >= 1, s"parallelism must be >= 1: $parallelism")
    if (thunks.sizeIs <= 1) return thunks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, thunks.size))
    implicit val ec: scala.concurrent.ExecutionContextExecutorService =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    var interrupted = false
    try {
      val fs = thunks.map(t =>
        scala.concurrent.Future(scala.util.Try(t())))
      // one shared deadline across all futures (they run concurrently,
      // so the bound is on the whole group, not per thunk)
      val deadline = timeout match {
        case f: scala.concurrent.duration.FiniteDuration => Some(f.fromNow)
        case _ => None
      }
      try {
        fs.foreach { f =>
          scala.concurrent.Await.ready(f,
            deadline.map(_.timeLeft.max(
                scala.concurrent.duration.Duration.Zero))
              .getOrElse(scala.concurrent.duration.Duration.Inf))
        }
      } catch {
        case e: java.util.concurrent.TimeoutException =>
          // hang-breaker: interrupt stragglers rather than leaking a
          // non-daemon pool that pins the JVM
          interrupted = true
          pool.shutdownNow()
          fs.flatMap(_.value).foreach(_.flatten.failed
            .foreach(e.addSuppressed))
          throw e
      }
      // every future is complete here; outer Try = the future's own
      // completion (fatal errors land here), inner Try = the thunk's
      val done = fs.map(_.value.get.flatten)
      done.map(_.get)
    } finally {
      if (!interrupted) {
        pool.shutdown()
        // all futures completed before we got here, so this never
        // blocks on real work — it only lets the worker threads die
        // before the pool handle goes out of scope
        pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
      }
      ()
    }
  }
}
