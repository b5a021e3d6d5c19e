package graft

import graft.streaming.InjectedCrash
import org.apache.spark.sql.{Dataset, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Crash-recovery runs drain their crashed query through
  * [[InjectedCrash.drainCrashed]]: the injected crash is the expected
  * end of that run, but any other failure is a real fault and must
  * surface instead of being mistaken for the injection. */
class InjectedCrashSpec extends AnyFunSuite with SharedSpark {

  private def crashingQuery(name: String, fail: () => Nothing) = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Long]
    in.addData(1L, 2L)
    in.toDF().writeStream.queryName(name)
      .foreachBatch { (_: Dataset[Row], _: Long) => fail() }
      .start()
  }

  test("the injected crash is recognised directly and through its wrappers") {
    val crash = new InjectedCrash("injected crash: test")
    assert(InjectedCrash.isInjected(crash))
    assert(InjectedCrash.isInjected(new RuntimeException("wrap", crash)))
    assert(!InjectedCrash.isInjected(new RuntimeException("injected crash: lookalike")))
    assert(!InjectedCrash.isInjected(new IllegalStateException("other", new RuntimeException())))
  }

  test("draining a crashed query swallows the injected crash only") {
    val injected = crashingQuery("crash_injected",
      () => throw new InjectedCrash("injected crash: batch not committed"))
    InjectedCrash.drainCrashed(injected)
    assert(!injected.isActive)

    // a non-injected failure during the crash run surfaces
    val broken = crashingQuery("crash_other",
      () => throw new IllegalStateException("real fault during the crash run"))
    val e = intercept[Throwable](InjectedCrash.drainCrashed(broken))
    assert(!InjectedCrash.isInjected(e))
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[IllegalStateException]), s"got $e")
    assert(!broken.isActive)
  }
}
