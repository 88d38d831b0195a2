package graft

import java.util.concurrent.{CompletableFuture, CompletionException}

private[graft] object Futures {

  /** `f`'s result, rethrowing the task's own failure instead of the
    * `CompletionException` that wraps it. */
  def await[T](f: CompletableFuture[T]): T =
    try f.join() catch {
      case e: CompletionException => throw Option(e.getCause).getOrElse(e)
    }
}
