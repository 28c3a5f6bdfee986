package graft.table

/** Driver-side fan-out for independent metadata IO: footer reads, bloom
  * probes, unlinks. Each call is latency-bound, so past a handful a
  * bounded pool overlaps them; below that, starting the threads costs more
  * than it hides and the calls run on the caller's thread. */
private[graft] object Fanout {

  private val Width = 16

  /** `f` over `xs`, results in order. The first failure propagates. */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(Width) < 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Width)
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.traverse(xs)(x => Future(f(x))), scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }
}
