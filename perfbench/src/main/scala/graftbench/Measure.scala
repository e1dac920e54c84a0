package graftbench

/** One operation's outcome. `latencyS` is present only for a correct
  * operation: an operation that threw or gave a wrong answer is counted
  * against the run but never timed. */
final case class Sample(op: String, kind: String, latencyS: Option[Double],
    error: Option[String], traced: Boolean = false,
    extra: Map[String, Any] = Map.empty) {
  def ok: Boolean = error.isEmpty
}

object Measure {

  /** Time `run`, then check its result outside the timed interval. `check`
    * returns the reason the result is wrong, if it is. */
  def apply[R](op: String, kind: String)(run: => R)(
      check: R => Option[String]): (Sample, Option[R]) = {
    val t0 = System.nanoTime()
    val r = try Right(run) catch { case e: Throwable => Left(e) }
    val elapsed = (System.nanoTime() - t0) / 1e9
    r match {
      case Left(e) =>
        (Sample(op, kind, None, Some(s"threw ${e.getClass.getName}: " +
          String.valueOf(e.getMessage).linesIterator.take(1).mkString)), None)
      case Right(v) =>
        val wrong = try check(v) catch {
          case e: Throwable => Some(s"check threw ${e.getClass.getName}")
        }
        wrong match {
          case Some(why) => (Sample(op, kind, None, Some(s"wrong answer: $why")), Some(v))
          case None => (Sample(op, kind, Some(elapsed), None), Some(v))
        }
    }
  }

  /** Closed loop with one client over whole passes: each operation starts
    * only after the previous one finished. The first `warmup` passes run
    * before the measured window; then passes run until `seconds` have
    * passed at a pass boundary, with at least `minPasses` measured. Every
    * run thus measures the same operations; the seed changes only their
    * order. No operation starts after `cutoffNanos` (a `System.nanoTime`
    * instant), which keeps a run on a slow machine inside its time limit.
    * `f` gets each operation and its pass number, warm-up passes included.
    * Returns the measured window: the wall time from the first measured
    * start to the last finish. */
  def passes[A](passes: Iterator[Seq[A]], seconds: Double, minPasses: Int = 1,
      cutoffNanos: Long = Long.MaxValue, warmup: Int = 0)(f: (A, Int) => Unit): Double = {
    var n = 0
    def pass(): Unit = {
      val p = n
      passes.next().iterator.takeWhile(_ => System.nanoTime() < cutoffNanos)
        .foreach(f(_, p))
      n += 1
    }
    while (n < warmup && passes.hasNext && System.nanoTime() < cutoffNanos) pass()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (passes.hasNext && (n < warmup + minPasses || System.nanoTime() < deadline) &&
        System.nanoTime() < cutoffNanos) pass()
    (System.nanoTime() - t0) / 1e9
  }
}
