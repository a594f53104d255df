package graft

import java.util.concurrent.{Callable, ExecutorService, Executors}
import org.apache.spark.sql.{DataFrame, classic}

/** A host releases what it registered: a carrier outlives another
  * host's release, and a plan-equal carrier that two live hosts share
  * outlives every release but the last. Each host is a thread of its
  * own, as each HTTP request is. */
class CachesSpec extends SparkSpec {

  private def cached(df: DataFrame): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]]).isDefined

  /** Runs each step on the one thread of `host`. */
  private def on[A](host: ExecutorService)(f: => A): A =
    host.submit(new Callable[A] { def call(): A = f }).get()

  private def withHosts(body: (ExecutorService, ExecutorService) => Unit): Unit = {
    val (a, b) = (Executors.newSingleThreadExecutor(), Executors.newSingleThreadExecutor())
    try body(a, b) finally { a.shutdown(); b.shutdown() }
  }

  private def carrier(k: Int): DataFrame =
    Caches.register(spark.range(100).toDF("id").selectExpr(s"id * $k AS x").cache())

  test("a carrier registered by one host stays cached when another host releases") {
    withHosts { (a, b) =>
      val mine = on(a) { val df = carrier(7); df.count(); df }
      val theirs = on(b) { val df = carrier(11); df.count(); df }
      on(b)(Caches.releaseAll())
      assert(!cached(theirs), "the releasing host's own carrier stayed cached")
      assert(cached(mine), "another host's release unpersisted this host's carrier")
      on(a)(Caches.releaseAll())
      assert(!cached(mine), "the registering host's release left its carrier cached")
    }
  }

  test("a plan-equal carrier held by two live hosts stays cached until the second releases") {
    withHosts { (a, b) =>
      val first = on(a) { val df = carrier(13); df.count(); df }
      val second = on(b)(carrier(13))
      assert(cached(first) && cached(second))
      on(a)(Caches.releaseAll())
      assert(cached(second), "the first release dropped the entry the second host holds")
      assert(on(b)(second.count()) == 100)
      on(b)(Caches.releaseAll())
      assert(!cached(first) && !cached(second), "the last release left the entry cached")
    }
  }
}
