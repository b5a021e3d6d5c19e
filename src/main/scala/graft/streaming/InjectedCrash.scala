package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

/** The failure a crash-recovery run injects on purpose. Its own type so
  * the run that expects it catches exactly it: any other failure during
  * that run is a real fault the recovery run would otherwise paper
  * over, and it propagates. */
final class InjectedCrash(msg: String) extends RuntimeException(msg)

object InjectedCrash {
  /** `e` is an injected crash, raised directly or as a cause of the
    * exception that reports it — a streaming query reports a failed
    * micro-batch as a StreamingQueryException whose cause chain holds
    * the batch's exception. */
  def isInjected(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .exists(_.isInstanceOf[InjectedCrash])

  /** Run `f`, swallowing an injected crash and nothing else. */
  def swallow(f: => Unit): Unit =
    try f catch { case e: Throwable if isInjected(e) => () }

  /** Drain a query whose run injects a crash, then stop it: the injected
    * failure is swallowed, any other failure is rethrown. */
  def drainCrashed(q: StreamingQuery): Unit =
    try swallow(q.processAllAvailable()) finally swallow(q.stop())
}
