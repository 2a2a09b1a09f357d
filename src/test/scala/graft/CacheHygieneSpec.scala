package graft

import org.apache.spark.sql.graftfn.PlanBridge
import org.scalatest.funsuite.AnyFunSuite

/** The cache-leak gate (r15, round-14 verdict directive 2).
  *
  * Contract: a gated query's cached intermediates are parked by its
  * [[graft.queries.QueryScope]] scope and die at the NEXT gated call —
  * or immediately at one [[graft.queries.QueryScope.releaseAll]], the
  * caller's single explicit release point. Before r15, ~45 query-layer
  * persists had no matching unpersist: bench/verify mask that with
  * `clearCache()` between queries, but a library/service caller would
  * grow the block manager on every call (and compositions doubled it —
  * r14's p26w cached the d10w pair frame twice). This spec runs EVERY
  * registered query at sf0.001, materializes its result, and fails by
  * name on the next persist that survives releaseAll().
  *
  * The census reads the CacheManager (via [[PlanBridge.cacheIsEmpty]]),
  * not `getPersistentRDDs`: the latter also carries `localCheckpoint`
  * RDDs (star-contraction rounds, MMR iterations) whose release is the
  * ContextCleaner's — GC-driven and asynchronous, so a census on it
  * would flake on exactly the queries that need lineage truncation.
  */
class CacheHygieneSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("every gated query's cache census returns to baseline after " +
      "one QueryScope.releaseAll (r14 verdict, directive 2)") {
    spark.catalog.clearCache()
    val leaks = Seq.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val res =
        try fn(spark, dir)
        catch { case e: Throwable => fail(s"$name failed to run: $e") }
      res.count() // materialize like any consumer would
      graft.queries.QueryScope.releaseAll() // the caller's one release
      if (!PlanBridge.cacheIsEmpty(spark)) {
        leaks += name
        spark.catalog.clearCache() // isolate: next query starts clean
      }
    }
    assert(leaks.result().isEmpty,
      s"queries leaving cache entries behind: ${leaks.result().mkString(", ")}")
  }

  test("entry-release: the previous parked generation dies when the " +
      "next gated call BEGINS, and a failing streak pins nothing " +
      "(r15 verdict, directive 4 + ADVICE)") {
    import graft.queries.QueryScope
    spark.catalog.clearCache()
    QueryScope.scoped { QueryScope.hold(spark.range(10).toDF()) }
    assert(!PlanBridge.cacheIsEmpty(spark), "gen A should be parked")
    // a FAILING gated call still releases gen A at entry, and its own
    // holds on the failure path — so repeated failures retain nothing
    intercept[RuntimeException](QueryScope.scoped {
      QueryScope.hold(spark.range(20).toDF())
      throw new RuntimeException("boom")
    })
    assert(PlanBridge.cacheIsEmpty(spark),
      "entry-release + failure-path unpersist must leave the cache empty")
  }

  test("sibling failure: a leg's holds release when the other leg " +
      "throws, even if the failure comes first") {
    import graft.queries.QueryScope
    spark.catalog.clearCache()
    val failed = new java.util.concurrent.CountDownLatch(1)
    val e = intercept[IllegalStateException](QueryScope.scoped {
      QueryScope.concurrently[org.apache.spark.sql.DataFrame, Long](
        {
          failed.await() // hold only after the sibling has thrown
          val h = QueryScope.hold(spark.range(30).toDF())
          h.count()
          h
        },
        {
          failed.countDown()
          throw new IllegalStateException("leg failed")
        })._1
    })
    assert(e.getMessage == "leg failed")
    assert(PlanBridge.cacheIsEmpty(spark),
      "the surviving leg's hold must be released with the failing scope")
  }

  test("concurrent-caller contract: in-flight holds survive a " +
      "concurrent releaseAll; a parked generation does not " +
      "(r15 verdict, directive 4)") {
    import graft.queries.QueryScope
    spark.catalog.clearCache()
    QueryScope.scoped { QueryScope.hold(spark.range(5).toDF()) } // gen A
    val inScope = new java.util.concurrent.CountDownLatch(1)
    val mayExit = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      QueryScope.scoped { // entry releases gen A (the global park queue)
        val h = QueryScope.hold(spark.range(7).toDF())
        inScope.countDown()
        mayExit.await()
        h
      }
      ()
    })
    t.start()
    inScope.await()
    // gen A died at the other thread's entry; its IN-FLIGHT hold is
    // cached and must survive this thread's releaseAll — in-flight
    // holds live in the owning thread's scope stack, never the queue
    QueryScope.releaseAll()
    assert(!PlanBridge.cacheIsEmpty(spark),
      "a concurrent releaseAll must not kill another thread's in-flight hold")
    mayExit.countDown()
    t.join()
    // now it IS parked — one releaseAll from any thread reclaims it
    QueryScope.releaseAll()
    assert(PlanBridge.cacheIsEmpty(spark))
  }
}
